"""Benchmark entry point.

    python3 perfbench/run.py --workload dedup_rollup --seed 1 --seconds 10 --trace 0

Run from the repository root.  Generates the workload's inputs from the
seed (timed on its own, never part of ``setup_s``), runs one benchmark
session in a child process at this machine's core count, checks every
job's output against the pandas/numpy oracle, and prints a report line
followed, as the last line, by the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs a
traced session plus a single-core one and reports per-layer metrics.
Everything the run writes stays under ``.perfbench_work/`` in the
current directory.  Exits non-zero when an output is wrong or the
engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("dedup_rollup", "tier_pack_downsample", "ingest_refresh")
# runnable by name, not listed in BENCHMARK.json: its backfill batch hits
# ContinuousAggregate.refresh's retention defect (NOTES.md), so its
# outputs fail the oracle until that is fixed
HELD = ("ingest_refresh",)
DEADLINE_S = 170.0
# jobs a run starts even past --seconds (cold job included): the first
# warm jobs are still warming up (dedup_rollup's keep getting faster
# until about the fourth), so the warm median needs jobs past them
MIN_JOBS = {"dedup_rollup": 6, "tier_pack_downsample": 5, "ingest_refresh": 5}
# traced runs: TRACED_WARMUP untraced jobs, then TRACED_PAIRS (untraced,
# traced) pairs; the single-core session runs a cold job and a traced one
TRACED_WARMUP = 2
TRACED_PAIRS = 2
ONE_CORE_BUDGET_S = 80.0  # started only with this much of the deadline left

END_TO_END = {
    "setup_s": "s",
    "cold_job_s": "s",
    "job_s.p50": "s",
    "turns_per_s": "turns/s",
    "process_s": "s",
}
# layers the listed workloads call (warehouse and refresh only run in the
# held ingest_refresh, whose figures are in the report line)
_LAYERS = ("features", "pairs", "dedup", "rollup", "downsample")
PER_LAYER = {
    "session.jvm_s": "s",
    "session.prewarm_s": "s",
    "trace.overhead_s": "s",
    "job.wall_s": "s",
    "job.self_s": "s",
    "job.exec_run_s": "s",
    "job.idle_slot_frac": "ratio",
    "job.task_skew": "ratio",
    "job.tasks": "count",
    "job.shuffle_write_bytes": "B",
    "job.spill_bytes": "B",
    "job.py_run_s": "s",
    "job.py_bytes_sent": "B",
    "job.py_bytes_returned": "B",
    "job.speedup_vs_1core": "ratio",
    "features.convs": "count",
    "pairs.pairs_considered": "count",
    "pairs.candidates": "count",
    "pairs.matches": "count",
    "pairs.prune_ratio": "ratio",
    "pairs.verify_yield": "ratio",
    "dedup.components": "count",
    "dedup.rows_removed": "count",
    "rollup.points_out.1m": "count",
    "rollup.points_out.1h": "count",
    "rollup.points_out.1d": "count",
    "codecs.bytes_per_point": "B/point",
    **{f"{L}.{k}": u for L in _LAYERS for k, u in (
        ("tasks", "count"), ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
        ("py_bytes_sent", "B"), ("py_bytes_returned", "B"))},
}


def environment(root: str) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    head = None
    try:
        with open(os.path.join(root, ".git", "HEAD")) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                ref = f.read().strip()
        head = ref
    except OSError:
        pass  # a source checkout without git metadata
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 2),
        "loadavg_start": os.getloadavg(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "git_head": head,
    }


def driver_memory(ram_gb: float) -> str:
    """A quarter of physical RAM, between 1 and 8 GiB."""
    return f"{int(min(8, max(1, ram_gb // 4)))}g"


def _kill_group(pgid: int) -> None:
    """SIGKILL whatever is left of a worker's process group and wait
    until it is gone (the JVM and Python workers are grandchildren)."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(100):
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def launch(args: dict, env: dict, log: str, timeout: float) -> tuple[dict | None, float]:
    """Run one worker session; return (its result, launch-to-exit s)."""
    launch_wall = time.time()
    t0 = time.perf_counter()
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--launch-wall", repr(launch_wall)]
    for k, v in args.items():
        cmd += [f"--{k.replace('_', '-')}", str(v)]
    with open(log, "ab") as lf:
        proc = subprocess.Popen(cmd, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            _kill_group(proc.pid)
            proc.wait()
            return None, time.perf_counter() - t0
        finally:
            _kill_group(proc.pid)
    process_s = time.perf_counter() - t0
    if proc.returncode != 0 or not os.path.exists(args["out"]):
        return None, process_s
    with open(args["out"]) as f:
        return json.load(f), process_s


def tail_percentile(samples: list[float]) -> dict | None:
    """Highest whole percentile (>= 50) with at least ten samples above it."""
    n = len(samples)
    if n < 20:
        return None
    p = int(100 * (1 - 10 / n))
    k = min(n - 1, int(p / 100 * n))
    return {"percentile": p, "value": sorted(samples)[k], "samples": n}


def summarize(res: dict, process_s: float) -> dict:
    jobs = res["jobs"]
    warm = [j for j in jobs[1:] if not j["traced"]]
    warm_s = [j["s"] for j in warm]
    failed = sum(not j["ok"] for j in jobs)
    out = {
        "setup_s": res["setup_s"],
        "cold_job_s": jobs[0]["s"] if jobs else None,
        "job_s.p50": statistics.median(warm_s) if warm_s else None,
        "job_s.tail": tail_percentile(warm_s),
        "turns_per_s": sum(j["turns"] for j in warm) / sum(warm_s) if warm_s else None,
        "process_s": process_s,
        "failed_frac": failed / len(jobs) if jobs else 1.0,
        "peak_rss_mb": res["peak_rss_mb"],
        "warm_jobs": len(warm_s),
        "job_s": [j["s"] for j in jobs],
        "check_s": [j.get("check_s") for j in jobs],
    }
    if "stored_bytes" in res:
        out["stored_bytes_per_turn"] = res["stored_bytes"] / sum(j["turns"] for j in jobs)
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    # SIGTERM unwinds like Ctrl-C, so ``launch`` still stops the session
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.perf_counter()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "peakmatch_xcorr_spark", "__init__.py")):
        print("perfbench: run from the repository root (peakmatch_xcorr_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import gen

    env_rec = environment(root)
    work = os.path.join(root, ".perfbench_work")
    meta = gen.generate(a.workload, a.seed, work)
    input_dir = gen.input_dir(work, meta)
    run_dir = os.path.join(work, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([root, env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # every JVM (launcher and driver): temp files in the run directory,
        # and no hsperfdata file, which HotSpot always puts under /tmp
        "JAVA_TOOL_OPTIONS": f"{env.get('JAVA_TOOL_OPTIONS', '')} -XX:-UsePerfData "
                             f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}".strip(),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1", "MKL_NUM_THREADS": "1",
    })
    common = {"workload": a.workload, "meta": os.path.join(input_dir, "meta.json"),
              "input_dir": input_dir, "run_dir": run_dir,
              "driver_mem": driver_memory(env_rec["ram_gb"]), "seconds": a.seconds,
              "trace": a.trace}
    log = os.path.join(run_dir, "worker.log")

    def remaining() -> float:
        return DEADLINE_S - (time.perf_counter() - t_start)

    try:
        res, process_s = launch(
            {**common, "cores": env_rec["nproc"],
             "jobs": TRACED_WARMUP + 2 * TRACED_PAIRS if a.trace else 0, "probe": 1,
             "warmup": TRACED_WARMUP, "min_jobs": MIN_JOBS[a.workload],
             "out": os.path.join(run_dir, "result.json")},
            env, log, remaining())
        one = None
        if res is not None and a.trace:
            if remaining() < ONE_CORE_BUDGET_S:
                res["notes"] = "single-core session skipped: out of time"
            else:
                one, _ = launch(
                    {**common, "cores": 1, "jobs": 2, "warmup": 0, "min_jobs": 0, "probe": 0,
                     "run_dir": os.path.join(run_dir, "one"),
                     "out": os.path.join(run_dir, "result-1core.json")},
                    env, log, remaining())
                if one is None and remaining() <= 1.0:
                    res["notes"] = "single-core session cut at the deadline"
                elif one is None:
                    res["errors"].append("single-core session failed")
                else:
                    res["errors"] += [f"1 core: {e}" for e in one["errors"]]
        if res is None or not res["jobs"]:
            with open(log, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            print("perfbench: benchmark session failed", file=sys.stderr)
            return 1
        if res["errors"] and all(j["ok"] for j in res["jobs"]):
            res["jobs"][-1]["ok"] = False  # a final-state mismatch fails the last job
        report = report_line(a, meta, env_rec, res, one, process_s, work)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    result = result_line(res, report, bool(a.trace))
    print(json.dumps(report, default=float))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def result_line(res: dict, report: dict, trace: bool) -> dict:
    """The last stdout line: the end-to-end metrics, or in a traced run
    the per-layer ones, each with its unit.  A layer a workload never
    calls reports its counts as 0."""
    catalog, values = (PER_LAYER, report["layers"]) if trace else (END_TO_END, report["metrics"])
    failed = sum(not j["ok"] for j in res["jobs"])
    return {
        "correct": failed == 0 and not res["errors"],
        "attempted": len(res["jobs"]),
        "failed": failed,
        "metrics": {k: {"value": values.get(k, 0), "unit": u} for k, u in catalog.items()},
    }


def report_line(a, meta: dict, env_rec: dict, res: dict, one: dict | None,
                process_s: float, work: str) -> dict:
    """Everything measured, for people: environment, generation time,
    all end-to-end metrics and, in traced runs, every layer metric."""
    env_rec["loadavg_end"] = os.getloadavg()
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "input": {"turns": meta["turns"], "convs": meta["convs"],
                  "fingerprint": meta["fingerprint"], "gen_s": meta["gen_s"],
                  "cached": meta["cached"]},
        "env": env_rec,
        "metrics": summarize(res, process_s),
        "errors": res["errors"][:20],
        "notes": res.get("notes"),
    }
    if a.trace:
        jobs = res["jobs"]
        # each traced job against the untraced job just before it, both
        # past the warm-up
        pairs = [b["s"] - a["s"] for a, b in zip(jobs, jobs[1:]) if b["traced"]]
        layers = dict(res["layers"])
        if pairs:
            layers["trace.overhead_s"] = statistics.median(pairs)
        if one is not None and one.get("layers"):
            for k, v in one["layers"].items():
                if k.endswith(".wall_s") and layers.get(k):
                    layers[k.replace(".wall_s", ".speedup_vs_1core")] = v / layers[k]
            report["one_core"] = {"setup_s": one["setup_s"], "jobs": one["jobs"]}
        report["layers"] = layers
        path = os.path.join(work, "traces", f"{a.workload}-{a.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": res["spans"], "layers": layers}, f)
        report["trace_file"] = os.path.relpath(path)
    return report


if __name__ == "__main__":
    sys.exit(main())
