"""Steadiness mode: run one workload N times in fresh processes and
report, per metric, the median, quartiles and spread / median.

Spreads above ``FLAG`` are flagged. With ``--trace 1`` the count
metrics in ``EXACT`` must repeat exactly across runs of one seed: they
do not move with host load, so a change in them is a code change.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from perfbench.stats import spread

FLAG = 0.10
EXACT = ("spark.jobs", "spark.tasks", "plans.exchanges",
         "txlog.log_versions", "streaming.batches")


def steadiness(args) -> int:
    run_py = os.path.abspath(sys.argv[0])
    records = []
    for i in range(args.repeat):
        seed = args.seed + i if args.vary_seed else args.seed
        cmd = [sys.executable, run_py, "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"run {i} (seed {seed}) failed:\n{out.stderr[-2000:]}",
                  file=sys.stderr)
            return 1
        rec = json.loads(lines[-1])
        print(f"run {i} seed={seed} correct={rec['correct']} "
              f"attempted={rec['attempted']} failed={rec['failed']}",
              flush=True)
        records.append(rec)
    names = list(records[0]["metrics"])
    bad = []
    print(f"{'metric':<40} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7}")
    for name in names:
        vals = [r["metrics"][name]["value"] for r in records]
        s = spread(vals)
        flag = ""
        if s["spread"] > FLAG:
            flag = "  FLAG spread > %.2f" % FLAG
        if args.trace and name in EXACT and len(set(vals)) > 1:
            flag += "  FLAG count not exact"
            bad.append(name)
        print(f"{name:<40} {s['median']:>12.4f} {s['q1']:>12.4f} "
              f"{s['q3']:>12.4f} {s['spread']:>7.3f}{flag}")
    if not all(r["correct"] for r in records):
        print("some runs were not correct")
        return 1
    return 1 if bad else 0
