"""Seeded, correctness-gated benchmark of the igpm_pem_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload converge --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --smoke        # every workload, tiny inputs

One run builds the workload's seeded inputs, sets up (session start plus
materialized input tables) several times and keeps the median, then
repeats passes of checked engine calls for ``--seconds`` and reports
medians. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` prints the per-layer metrics (spans, Spark counts) of the
same passes. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 1 when a
check failed and 2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEM = "2g"
SETUPS = 5
RUN_LIMIT_S = 150.0  # stop starting passes past this, to end well inside 180 s

# Gated end-to-end metrics (name -> unit). Single calls spread too much
# between runs on a shared host to carry a bound; they are printed as
# details below and are per-layer metrics of a traced run.
END_TO_END = {"setup_s": "s", "kernels_s": "s"}
DETAILS = {  # printed with --trace 0 where the workload makes the call
    "pagerank_s": ("pagerank", "s"),
    "components_s": ("components", "s"),
    "labelprop_s": ("labelprop", "s"),
    "triangles_s": ("triangles", "s"),
    "durable_pagerank_s": ("durable", "s"),
    "resume_s": ("resume", "s"),
    "refresh_call_s": ("refresh", "s"),
}


def per_layer_units() -> dict[str, str]:
    from perfbench.workloads import KERNELS

    units = {
        "session.start_s": "s",
        "session.peak_rss_mb": "MB",
        "sources.edges_build_s": "s",
        "sources.edge_rows": "count",
        "sources.ingest_write_s": "s",
        "sources.slice_read_s": "s",
        "graph.adjacency_build_s": "s",
        "graph.nparts": "count",
        "graph.partition_skew": "ratio",
    }
    for k in KERNELS:
        units[f"{k}.call_s"] = "s"
        if k not in ("triangles", "refresh"):
            units.update({f"{k}.supersteps": "count", f"{k}.commits": "count",
                          f"{k}.commit_s": "s", f"{k}.loop_share": "ratio"})
        elif k == "refresh":
            units[f"{k}.supersteps"] = "count"
        units.update({f"{k}.jobs": "count", f"{k}.stages": "count", f"{k}.tasks": "count",
                      f"{k}.failed_tasks": "count", f"{k}.shuffle_write_mb": "MB",
                      f"{k}.busy_share": "ratio"})
    units.update({
        "incremental.base_s": "s",
        "incremental.refresh_s": "s",
        "incremental.refresh_max_s": "s",
        "incremental.bucket_supersteps": "count",
        "incremental.bucket_new_edges": "count",
        "incremental.recompute_s": "s",
        "incremental.refresh_over_recompute": "ratio",
        "lineage.durable_pagerank_s": "s",
        "lineage.resume_s": "s",
        "lineage.commit_s": "s",
        "lineage.bytes_per_commit": "B",
        "lineage.lineage_rows": "count",
        "lineage.load_s": "s",
        "trace.kernels_s": "s",
        "trace.outside_calls_s": "s",
        "host.parallel_speedup": "ratio",
    })
    return units


def pin_environment(cores: int) -> None:
    """Pin cores, memory, scratch dirs and thread counts before Spark or
    numpy start; everything the run writes stays under ``WORK``."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "TMPDIR": os.path.join(WORK, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    })
    sys.dont_write_bytecode = True


def spark_conf(traced: bool) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if traced:
        # the session keeps only 50 jobs / 100 stages; a pass runs far more
        conf.update({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"})
    return conf


def host_probe(threads: int) -> float:
    """Parallel speedup of fixed numpy work at ``threads`` threads: close
    to ``threads`` on a quiet host, lower when other tenants hold CPUs."""
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    a = np.random.default_rng(0).random((300, 300))

    def work(_):
        x = a
        for _ in range(20):
            x = x @ a
            x /= np.abs(x).max()
        return float(x[0, 0])

    work(0)
    t0 = time.perf_counter()
    work(0)
    one = time.perf_counter() - t0
    t0 = time.perf_counter()
    with ThreadPoolExecutor(threads) as pool:
        list(pool.map(work, range(2 * threads)))
    return 2 * threads * one / (time.perf_counter() - t0)


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be going
        pass
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def environment(spark, cores: int) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "commit": commit,
        "spark": spark.version,
        "jdk": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "cores": cores,
        "driver_memory": DRIVER_MEM,
        "host": platform.node(),
    }


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _pass_kernels_s(p) -> float:
    return sum(o["wall"] for o in p["ops"].values())


def end_to_end(passes, setups) -> dict:
    return {
        "setup_s": _median([s["total"] for s in setups]),
        "kernels_s": _median([_pass_kernels_s(p) for p in passes]),
    }


def details(wl, passes) -> dict:
    """Per-call medians of an untraced run, for reading, not gating."""
    out = {}
    for name, (op, unit) in DETAILS.items():
        walls = [p["ops"][op]["wall"] for p in passes if op in p["ops"]]
        if walls:
            out[name] = {"value": _median(walls), "unit": unit}
    pr = [p["ops"]["pagerank"] for p in passes if "pagerank" in p["ops"]]
    if pr:
        out["pagerank_edges_per_s"] = {"unit": "edges/s", "value": _median(
            [o["supersteps"] * wl.sym_edges / o["wall"] for o in pr])}
    steps = [p["ops"]["refresh"]["steps"] for p in passes if "refresh" in p["ops"]]
    if steps:
        out["base_s"] = {"value": _median([s[0].wall_sec for s in steps]), "unit": "s"}
        out["refresh_s"] = {"value": _median([st.wall_sec for s in steps for st in s[1:]]),
                            "unit": "s"}
    return out


def _kernel_layer(k, passes, cores) -> dict:
    per_pass = []
    for p in passes:
        rows = [o for name, o in p["ops"].items() if name.split(".")[0] == k]
        call = sum(o["wall"] for o in rows)
        walls = [w for o in rows for w in o.get("commit_walls", [])]
        sp = [o.get("spark", {}) for o in rows]

        def tot(key):
            return sum(c.get(key, 0) for c in sp)

        per_pass.append({
            "call_s": call,
            "supersteps": sum(o.get("supersteps", 0) for o in rows),
            "commits": len(walls),
            "commit_s": _median(walls),
            "loop_share": sum(walls) / call if call else 0.0,
            "jobs": tot("jobs"), "stages": tot("stages"), "tasks": tot("tasks"),
            "failed_tasks": tot("failed_tasks"),
            "shuffle_write_mb": tot("shuffle_write_bytes") / 2**20,
            "busy_share": tot("run_time_ms") / 1000.0 / (call * cores) if call else 0.0,
        })
    return {f"{k}.{key}": _median([pp[key] for pp in per_pass]) for key in per_pass[0]} if per_pass else {}


def per_layer(passes, setups, probes, rss, cores, speedup) -> dict:
    from perfbench.workloads import KERNELS

    units = per_layer_units()
    m = dict.fromkeys(units, 0.0)
    m["session.start_s"] = _median([s["start"] for s in setups])
    m["session.peak_rss_mb"] = rss
    m["sources.edges_build_s"] = _median([s["build"] for s in setups])
    m["sources.edge_rows"] = setups[-1]["rows"]
    for name in ("sources.ingest_write", "sources.slice_read"):
        m[f"{name}_s"] = _median([p["ops"][name]["wall"] for p in passes if name in p["ops"]])
    skews = [
        max(e) / statistics.mean(e)
        for p in passes
        for e in [p["ops"].get("pagerank", {}).get("partition_edges")]
        if e
    ]
    m["graph.partition_skew"] = _median(skews)
    for k in KERNELS:
        m.update({n: v for n, v in _kernel_layer(k, passes, cores).items() if n in units})

    steps = [p["ops"]["refresh"]["steps"] for p in passes if "refresh" in p["ops"]]
    if steps:
        buckets = [st.wall_sec for s in steps for st in s[1:]]
        m["incremental.base_s"] = _median([s[0].wall_sec for s in steps])
        m["incremental.refresh_s"] = _median(buckets)
        m["incremental.refresh_max_s"] = max(buckets)
        m["incremental.bucket_supersteps"] = _median([sum(st.supersteps for st in s[1:]) for s in steps])
        m["incremental.bucket_new_edges"] = _median([sum(st.n_new_edges for st in s[1:]) for s in steps])
        m["incremental.recompute_s"] = m["pagerank.call_s"]
        if m["incremental.recompute_s"]:
            m["incremental.refresh_over_recompute"] = m["incremental.refresh_s"] / m["incremental.recompute_s"]

    durable = [p["ops"] for p in passes if "durable" in p["ops"] and "resume" in p["ops"]]
    if durable:
        m["lineage.durable_pagerank_s"] = _median([o["durable"]["wall"] + o["resume"]["wall"] for o in durable])
        m["lineage.resume_s"] = _median([o["resume"]["wall"] for o in durable])
        m["lineage.commit_s"] = _median(
            [w for o in durable for w in o["durable"]["commit_walls"] + o["resume"]["commit_walls"]]
        )
    m.update(probes)
    m["trace.kernels_s"] = _median([_pass_kernels_s(p) for p in passes])
    m["trace.outside_calls_s"] = _median([p["outside_calls"] for p in passes])
    m["host.parallel_speedup"] = speedup
    return m


def run_workload(name: str, seed: int, seconds: float, trace: bool, smoke: bool) -> dict:
    from igpm_pem_spark.session import get_spark
    from perfbench.tracing import Recorder
    from perfbench.workloads import WORKLOADS, Runner

    t_run = time.perf_counter()
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    wl = WORKLOADS[name](seed, smoke, WORK)
    rec = Recorder(name)
    r = Runner(rec)
    wl.prepare()

    setups = []
    for i in range(1 if smoke else SETUPS):
        if r.spark is not None:
            r.spark.stop()
        t0 = time.perf_counter()
        r.spark = get_spark(cores=cores, extra_conf=spark_conf(trace))
        t1 = time.perf_counter()
        rows = wl.setup(r)
        t2 = time.perf_counter()
        setups.append({"start": t1 - t0, "build": t2 - t1, "total": t2 - t0, "rows": rows})
    env = environment(r.spark, cores)

    wl.reference(r)

    passes = []
    rec.traced = trace
    t_window = time.perf_counter()
    while True:
        rec.pass_id = len(passes)
        r.ops = {}
        t0 = time.perf_counter()
        wl.run_pass(r, len(passes) + 1)
        wall = time.perf_counter() - t0
        passes.append({"ops": r.ops, "outside_calls": wall - _pass_kernels_s({"ops": r.ops})})
        now = time.perf_counter()
        if smoke or now - t_window >= seconds or now - t_run > RUN_LIMIT_S:
            break

    probes = wl.probes(r) if trace else {}
    rss = jvm_peak_rss_mb()
    speedup = host_probe(cores)
    stop_jvm(r.spark)

    if trace:
        metrics = per_layer(passes, setups, probes, rss, cores, speedup)
        units = per_layer_units()
    else:
        metrics = end_to_end(passes, setups)
        units = END_TO_END
        env["details"] = details(wl, passes)
    env.update(host_parallel_speedup=speedup, passes=len(passes), seed=seed,
               run_s=time.perf_counter() - t_run)
    return {
        "workload": name,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        "environment": env,
        "setups": setups,
        "passes": [{n: {"wall": o["wall"], "supersteps": o.get("supersteps")}
                    for n, o in p["ops"].items()} for p in passes],
        "spans": rec.spans,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, one set-up and one pass: exercises every path quickly")
    args = ap.parse_args(argv)

    cores = len(os.sched_getaffinity(0))
    pin_environment(cores)
    sys.path.insert(0, ROOT)
    try:
        import igpm_pem_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as err:
        print(f"perfbench: cannot import the engine from {ROOT}: {err}", file=sys.stderr)
        return 2
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    unknown = [n for n in names if n not in WORKLOADS]
    if unknown:
        print(f"perfbench: unknown workload {unknown[0]!r}; choose from {list(WORKLOADS)} or all",
              file=sys.stderr)
        return 2

    results = []
    for name in names:
        res = run_workload(name, args.seed, args.seconds, bool(args.trace), args.smoke)
        results.append(res)
        out_dir = os.path.join(WORK, "results")
        os.makedirs(out_dir, exist_ok=True)
        stem = f"{name}-seed{args.seed}-trace{args.trace}{'-smoke' if args.smoke else ''}"
        with open(os.path.join(out_dir, stem + ".json"), "w") as f:
            json.dump(res, f, indent=1, default=str)
        print(f"perfbench: environment {json.dumps(res['environment'])}", file=sys.stderr)
        for metric, mv in res["metrics"].items():
            print(f"{name:18s} {metric:36s} {mv['value']:>16.6g} {mv['unit']}")
        for metric, mv in res["environment"].get("details", {}).items():
            print(f"{name:18s} {metric:36s} {mv['value']:>16.6g} {mv['unit']}  (detail)")
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)

    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    if len(results) == 1:
        metrics = results[0]["metrics"]
    else:
        metrics = {f"{r['workload']}.{k}": v for r in results for k, v in r["metrics"].items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
