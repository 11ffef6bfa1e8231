"""Rollup-engine benchmark: one workload per run, one JSON line of results.

    python3 perfbench/run.py --workload incremental_ingest --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The engine is driven only through its
public functions, in one process on ``local[<cpus>]``, by one client in a
closed loop. ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
runs a fixed number of rounds untraced and the same number traced, and
prints the per-layer metrics. Scratch data, event logs and a copy of
every result live under ``.perfbench_work/`` in the working directory;
a run leaves its scratch directory there (removing a run's few hundred
files took 2-9 s on a disk that discards freed blocks), so delete
``.perfbench_work/`` to reclaim the space.
See perfbench/README.md for the workloads, metrics and reference figures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {"setup_s": "s", "op_s": "s", "ops_per_s": "1/s",
             "store_bytes_per_row": "bytes/row", "peak_rss_gb": "GB"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=("incremental_ingest", "tier_reads"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true",
                   help="run every workload at a small size and show that a "
                        "perturbed tier row fails the checks")
    a = p.parse_args(argv)
    if not a.selftest and a.workload is None:
        p.error("--workload is required")
    return a


def run_workload(wl, ctx, seconds: float, trace: bool) -> dict:
    """Set-up, timed loop (or the untraced/traced pair), checks, metrics."""
    import checks as C

    out: dict = {"workload": wl.name, "seed": ctx.seed}
    t0 = time.perf_counter()
    wl.setup()
    out["setup_only_s"] = time.perf_counter() - t0
    ops = 0
    if not trace:
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            ops += wl.round()
        loop_s = time.perf_counter() - t0
    else:
        walls = []
        for traced in (False, True):
            ctx.tracer.enabled = traced
            w0, t0 = time.time(), time.perf_counter()
            for _ in range(wl.trace_rounds):
                ops += wl.round()
            walls.append(time.perf_counter() - t0)
        untraced_s, loop_s = walls
        window = (w0, time.time())
        extras = wl.extras()
        ctx.tracer.enabled = False
    checks = C.Checks()
    t0 = time.perf_counter()
    wl.check(checks)
    out["check_s"] = time.perf_counter() - t0
    out["checks"] = [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks.results]
    out["ops"] = ops
    out["loop_s"] = loop_s
    out["attempted"] = ops + len(checks.results)
    out["failed"] = len(checks.failed)
    out["detail"] = wl.detail(loop_s)
    if not trace:
        out["e2e"] = wl.e2e(loop_s, ops)
        return out
    units = wl.trace_rounds * wl.units_per_round
    out["_trace"] = (window, extras, units, (loop_s - untraced_s) / units)
    return out


def finish_trace(out: dict, tracer, event_dir: str) -> dict:
    from spans import layer_metrics, per_layer_names, read_event_log

    window, extras, units, overhead = out.pop("_trace")
    jobs, tasks = read_event_log(event_dir)
    layer = layer_metrics(tracer.spans, jobs, tasks, window)
    layer.update(tracer.counts)
    layer.update(extras)
    layer["spark.jobs_per_batch"] = layer.pop("_jobs_in_window") / units
    layer["tracing.overhead_s"] = overhead
    return {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in per_layer_names()}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import s1tiling_spark  # noqa: F401  (the engine under test)
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import env
    from spans import Tracer
    from workloads import SIZES, WORKLOADS, Ctx

    if args.selftest:
        import selftest

        return selftest.main(ROOT)

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    spark = None
    try:
        t0 = time.perf_counter()
        spark, session_s = env.start_session(ROOT, work, event_dir)
        tracer = Tracer(spark.sparkContext, enabled=False)
        ctx = Ctx(spark, work, args.seed, SIZES["full"], tracer)
        wl = WORKLOADS[args.workload](ctx)
        out = run_workload(wl, ctx, args.seconds, bool(args.trace))
        setup_s = session_s + out["setup_only_s"]
        rss = env.peak_rss_gb(spark)
        env.stop_session(spark)
        spark = None
        out["host"] = env.host_shape()
        out["host"]["driver_heap_mb"] = env.heap_mb()
        out["host"]["master"] = f"local[{os.cpu_count()}]"
        out["session_s"] = session_s
        out["wall_s"] = time.perf_counter() - t0
        if args.trace:
            metrics = finish_trace(out, tracer, event_dir)
        else:
            e2e = dict(out.pop("e2e"), setup_s=setup_s, peak_rss_gb=rss)
            metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in E2E_UNITS.items()}
        result = {"correct": out["failed"] == 0, "attempted": out["attempted"],
                  "failed": out["failed"], "metrics": metrics}
        out["result"] = result
        os.makedirs(os.path.join(base, "results"), exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
        with open(os.path.join(base, "results", name), "w") as f:
            json.dump(out, f, indent=1, default=str)
        for c in out["checks"]:
            if not c["ok"]:
                print(f"CHECK FAILED {c['name']}: {c['detail']}")
        print("host " + json.dumps(out["host"]))
        print("detail " + json.dumps(out["detail"], default=str))
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            env.stop_session(spark)


if __name__ == "__main__":
    sys.exit(main())
