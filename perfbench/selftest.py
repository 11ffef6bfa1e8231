"""Self-test: every workload at a small size, then one perturbed row.

Runs the workloads in one session with a one-second loop and
fails unless every check passes. Then it adds one to ``cnt`` in one row
of a 1h tier read and feeds it through the stat-tier check, which must
report the failure.
"""

from __future__ import annotations

import os
import shutil
import time

import checks as C
import env
from run import run_workload
from spans import Tracer
from workloads import SIZES, WORKLOADS, Ctx, tier_frames
from s1tiling_spark.plans.store import TierStore


def main(root: str) -> int:
    work = os.path.join(os.getcwd(), ".perfbench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark, _ = env.start_session(root, work, None)
    ok = True
    done = {}
    try:
        for name, cls in WORKLOADS.items():
            t0 = time.perf_counter()
            ctx = Ctx(spark, os.path.join(work, name), 7, SIZES["small"],
                      Tracer(spark.sparkContext, enabled=False))
            wl = done[name] = cls(ctx)
            out = run_workload(wl, ctx, 1.0, trace=False)
            bad = [c for c in out["checks"] if not c["ok"]]
            ok &= not bad and out["ops"] > 0
            print(f"{'ok  ' if not bad else 'FAIL'} {name}: {out['ops']} ops, "
                  f"{len(out['checks'])} checks, {time.perf_counter() - t0:.1f} s")
            for c in bad:
                print(f"     {c['name']}: {c['detail']}")
        # a tier row that is off by one must fail its check
        ingest = done["incremental_ingest"]
        t1h = tier_frames(TierStore(spark, ingest.store_dir), ("1h",))["1h"]
        t1h.loc[t1h.index[len(t1h) // 2], "cnt"] += 1
        caught = C.Checks()
        caught.run("perturbed 1h row", C.stat_tier_matches, t1h, C.duck(), ingest.landed, "1h")
        detected = len(caught.failed) == 1
        ok &= detected
        print(f"{'ok  ' if detected else 'FAIL'} perturbed cnt is "
              f"{'reported' if detected else 'NOT reported'}: {caught.results[0][2]}")
    finally:
        env.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("selftest " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1
