"""One benchmark session: build the Spark session, run the workload's
closed-loop jobs, check every output, and write a result JSON.

Started by run.py as its own process, so that ``setup_s`` covers JVM
start and ``get_spark`` (prewarm included) and ``process_s`` covers
launch to exit.  Not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

LAUNCH_ARGS = ("workload", "meta", "input_dir", "run_dir", "cores", "driver_mem",
               "seconds", "trace", "probe", "jobs", "warmup", "min_jobs", "launch_wall",
               "out")


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process's descendants: the JVM and the
    Python workers it forked."""
    total_kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def schedule(trace: bool, jobs: int, warmup: int):
    """Yield (job index, traced) pairs.  Untraced runs: untraced jobs
    until time is up.  Traced runs: ``warmup`` untraced jobs (the cold
    one included), then untraced and traced jobs alternating (``jobs``
    in total), so each traced job runs past the warm-up and has an
    untraced neighbour for the overhead estimate."""
    i = 0
    while True:
        yield i, trace and i >= warmup and (i - warmup) % 2 == 1
        i += 1
        if jobs and i >= jobs:
            return


def main() -> int:
    p = argparse.ArgumentParser()
    for a in LAUNCH_ARGS:
        p.add_argument(f"--{a.replace('_', '-')}", required=True)
    a = p.parse_args()
    cores, seconds, trace = int(a.cores), float(a.seconds), a.trace == "1"
    # probe=0 (the single-core session): spans only, no layer counts
    probe = trace and a.probe == "1"
    jobs, warmup, min_jobs = int(a.jobs), int(a.warmup), int(a.min_jobs)
    with open(a.meta) as f:
        meta = json.load(f)

    from peakmatch_xcorr_spark.session import get_spark

    from spans import StatusReader, Tracer, layer_metrics
    from workloads import WORKLOADS

    extra = {"spark.driver.memory": a.driver_mem,
             "spark.sql.warehouse.dir": os.path.join(a.run_dir, "spark-warehouse")}
    if trace:
        extra.update({"spark.ui.retainedJobs": "100000",
                      "spark.ui.retainedStages": "100000",
                      "spark.sql.ui.retainedExecutions": "100000"})
    spark = get_spark(cores, extra_conf=extra)
    ready_wall = time.time()
    res: dict = {"setup_s": ready_wall - float(a.launch_wall), "jobs": [],
                 "errors": [], "cores": cores}

    tracer = Tracer(spark, trace)
    wl = WORKLOADS[a.workload](spark, meta, a.input_dir, a.run_dir, tracer)
    probes: list[dict] = []
    loop_t0 = time.perf_counter()
    for i, traced in schedule(trace, jobs, warmup):
        if not jobs and i >= min_jobs and time.perf_counter() - loop_t0 >= seconds:
            break
        before = wl.warehouse_listing() if traced and probe else None
        t0 = time.perf_counter()
        try:
            with tracer.job(i, traced):
                out = wl.job(i)
            dt = time.perf_counter() - t0
            errs = wl.check(i, out)
            check_s = time.perf_counter() - t0 - dt
        except Exception:  # noqa: BLE001 - a failing job is a measured outcome
            res["jobs"].append({"i": i, "s": time.perf_counter() - t0, "ok": False,
                                "traced": traced, "turns": wl.turns(i)})
            res["errors"].append(traceback.format_exc(limit=8))
            break
        res["jobs"].append({"i": i, "s": dt, "ok": not errs, "traced": traced,
                            "turns": wl.turns(i), "check_s": check_s})
        res["errors"] += [f"job {i}: {e}" for e in errs]
        if traced and probe:
            pr = wl.probe(i, out)
            if before is not None:
                after = wl.warehouse_listing()
                pr["warehouse.commits"] = after["commits"] - before["commits"]
                pr["warehouse.files_written"] = after["files"] - before["files"]
                pr["warehouse.bytes_written"] = after["bytes"] - before["bytes"]
            probes.append(pr)
        spark.catalog.clearCache()
    try:
        res["errors"] += wl.final_check()
    except Exception:  # noqa: BLE001
        res["errors"].append(traceback.format_exc(limit=8))
    stored = wl.stored_bytes()
    if stored is not None:
        res["stored_bytes"] = stored
    res["peak_rss_mb"] = peak_rss_mb()

    if trace:
        counts, win = {}, None
        if probe:
            reader = StatusReader(spark)
            groups = [s.group for s in tracer.spans]
            reader.settle(groups)
            counts = reader.group_counts(groups)
            win = reader.prewarm_window()
        n = sum(j["traced"] for j in res["jobs"]) or 1
        layers = layer_metrics(tracer.spans, counts, cores, n)
        for pr in probes:
            for k, v in pr.items():
                layers[k] = layers.get(k, 0.0) + v / len(probes)
        if win is not None:
            layers["session.prewarm_s"] = win[1] - win[0]
            layers["session.jvm_s"] = win[0] - float(a.launch_wall)
        res["layers"] = layers
        res["spans"] = [
            {"id": s.id, "parent": s.parent, "trace": s.trace, "layer": s.layer,
             "name": s.name, "start": s.start, "end": s.end,
             "counts": {k: v for k, v in counts.get(s.group, {}).items()
                        if k != "task_run_s"}}
            for s in tracer.spans
        ]
    spark.stop()
    with open(a.out, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.getcwd())
    sys.exit(main())
