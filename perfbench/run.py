"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload stock --seed 1 --seconds 20 --trace 0

runs the workload from the checkout root on local[nproc] and prints a
human-readable report followed, on the last line, by
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``) that
BENCHMARK.json lists. The full record (every named metric, host
context, per-query trace rows) lands in ``.perfbench/results/``.

    python3 perfbench/run.py --workload txlog --seed 1 --repeat 5

is the steadiness mode: N runs in fresh processes, then per metric
the median, quartiles and spread / median; see ``steady.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ["TZ"] = "UTC"
time.tzset()

from perfbench import common  # noqa: E402

SETUP_REPS = 3


def _workloads() -> dict:
    from perfbench import wl_curation, wl_stock, wl_txlog
    return {"stock": wl_stock, "curation": wl_curation, "txlog": wl_txlog}


def _spec() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(args) -> dict:
    wl = _workloads()[args.workload]
    work = os.path.join(common.STATE_DIR, "runs",
                        f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # temp files of this process, the JVM's Python workers and the
    # package (it stages its source for the workers) stay in the run dir
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    ctx = common.Ctx(workload=args.workload, seed=args.seed,
                     seconds=args.seconds, trace=bool(args.trace), work=work)
    host = common.host_context()
    setup_s: list[float] = []
    rows: list[dict] = []
    with common.RssSampler() as rss:
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            spark = common.start_session(ctx, wl.session_extra())
            ctx.spark = spark
            common.warm_up(spark, common.warm_up_dir())
            staged = wl.stage(ctx, spark, rep)
            setup_s.append(time.perf_counter() - t0)
            if rep < SETUP_REPS - 1:
                spark.stop()
        if ctx.trace:
            from perfbench.trace import Tracer
            ctx.tracer = Tracer(ctx)
            ctx.tracer.install()
        try:
            wl.run(ctx, spark, staged)
        finally:
            if ctx.tracer:
                ctx.tracer.uninstall()
                ctx.tracer.collect_udf_profile()
            app_id = spark.sparkContext.applicationId
            spark.stop()
            common.stop_jvm()
    if ctx.tracer:
        rows = ctx.tracer.read_event_log(app_id)
    shutil.rmtree(work, ignore_errors=True)
    ctx.metric("setup_s", statistics.median(setup_s), "s")
    ctx.metric("peak_rss_mb", rss.peak_mb, "MB")
    ctx.metric("fail_ratio", ctx.failed / max(ctx.attempted, 1), "ratio")
    host["loadavg_after"] = list(os.getloadavg())
    return {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "host": host,
            "setup_runs_s": setup_s, "attempted": ctx.attempted,
            "failed": ctx.failed, "failures": ctx.failures,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in ctx.metrics.items()},
            "layer": dict(ctx.tracer.layer) if ctx.tracer else {},
            "queries": rows, "notes": ctx.notes,
            "span_self_ms": ctx.tracer.self_ms if ctx.tracer else {}}


def result_line(rec: dict, spec: dict) -> dict:
    """The result line: exactly the metrics BENCHMARK.json lists for
    this mode."""
    from perfbench.headline import end_to_end

    if rec["trace"]:
        vals = rec["layer"]     # a layer the workload bypasses reads 0
        names = spec["per_layer"]
    else:
        vals = end_to_end(rec)
        names = spec["end_to_end"]
    return {"correct": rec["failed"] == 0 and rec["attempted"] > 0,
            "attempted": rec["attempted"], "failed": rec["failed"],
            "metrics": {m["name"]: {"value": float(vals.get(m["name"], 0.0)),
                                    "unit": m["unit"]} for m in names}}


def tracing_overhead(plain: dict, traced: dict) -> dict:
    """Per end-to-end metric: (traced - untraced) / untraced."""
    from perfbench.headline import end_to_end

    a, b = end_to_end(plain), end_to_end(traced)
    return {k: (b[k] - a[k]) / a[k] for k in a if a[k]}


def print_report(rec: dict) -> None:
    h = rec["host"]
    print(f"# {rec['workload']} seed={rec['seed']} trace={rec['trace']} "
          f"commit={h['commit'][:12]} cores={h['cores_used']}/{h['nproc']} "
          f"load={h['loadavg'][0]:.2f}->{h['loadavg_after'][0]:.2f} "
          f"python={h['python']} pyspark={h['pyspark']} java={h['java']!r}")
    for k, m in sorted(rec["metrics"].items()):
        print(f"  {k:<28} {m['value']:>14.4f} {m['unit']}")
    for k, v in sorted(rec["layer"].items()):
        print(f"  {k:<40} {v:>14.4f}")
    if rec["queries"]:
        print(f"  {'query':<24} {'wall s':>8} {'outside s':>9} {'jobs':>6} "
              f"{'tasks':>7} {'run s':>7} {'cpu s':>7} {'shuf MB':>8}")
        for r in sorted(rec["queries"], key=lambda r: -r["wall_s"]):
            print(f"  {r['query']:<24} {r['wall_s']:>8.3f} "
                  f"{r['outside_jobs_s']:>9.3f} {r['jobs']:>6.1f} "
                  f"{r['tasks']:>7.1f} {r['task_run_s']:>7.2f} "
                  f"{r['jvm_cpu_s']:>7.2f} {r['shuffle_mb']:>8.2f}")
    for k, v in rec.get("tracing_overhead", {}).items():
        print(f"  tracing overhead {k:<20} {v:+.1%}")
    for f in rec["failures"]:
        print(f"  FAILED {f}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0,
                    help="steadiness mode: N runs in fresh processes")
    ap.add_argument("--vary-seed", action="store_true",
                    help="with --repeat: seed, seed+1, ... instead of one "
                         "seed throughout")
    args = ap.parse_args(argv)

    if not common.package_present():
        print("perfbench: the package is not in this checkout "
              f"({common.ROOT}); nothing to measure", file=sys.stderr)
        return 2
    if args.workload not in _workloads():
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2
    if args.repeat:
        from perfbench.steady import steadiness
        return steadiness(args)

    rec = run_once(args)
    results = os.path.join(common.STATE_DIR, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results,
                       f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    plain = os.path.join(results, f"{args.workload}-seed{args.seed}-trace0.json")
    if args.trace and os.path.exists(plain):
        with open(plain) as fh:
            base = fh.read()
        rec["tracing_overhead"] = tracing_overhead(json.loads(base), rec)
    with open(out, "w") as fh:
        json.dump(rec, fh, indent=1, default=str)
    print_report(rec)
    print(json.dumps(result_line(rec, _spec())))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
