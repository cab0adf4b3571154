"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload lakehouse --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints progress on stderr and, as the last
line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, Spark event log on, jobs tagged per call). ``--save FILE``
also appends the result with its workload, seed and details as one JSON
line, the input of ``compare.py``. Exits non-zero without a result line
when the engine cannot be imported or a set-up step fails.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from types import SimpleNamespace

import metrics
import wl_analytics
import wl_lakehouse
from common import (
    CPUS, DRIVER_MEMORY, ROOT, Bench, descendants, log, peak_rss_mb, prepare_env,
)
from spans import Tracer, layer_totals, read_event_log

# name -> (setup(ctx) -> state, run(ctx, state) -> workload-computed figures)
WORKLOADS = {
    "lakehouse": (wl_lakehouse.setup, wl_lakehouse.run),
    "analytics": (wl_analytics.setup, wl_analytics.run),
}


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for every child process."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def run(args, tmp: str, event_dir: str | None) -> dict:
    setup, body = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    from assignment4_spark.session import get_spark

    tracer = Tracer()
    with tracer.span("session", -1, "setup"):
        spark = get_spark("perfbench", cpus=CPUS)
    start_s = time.perf_counter() - t0
    if args.trace:
        tracer.sc = spark.sparkContext
    try:
        bench = Bench(spark, args.seconds, tracer)
        with tracer.span("session", -1, "setup"):
            spark.range(0, 1000, 1, CPUS).selectExpr("sum(id)").collect()
        warm_s = time.perf_counter() - t0
        ctx = SimpleNamespace(spark=spark, seed=args.seed, tmp=tmp, bench=bench)
        state = setup(ctx)
        setup_s = time.perf_counter() - t0
        log(f"set-up: session {start_s:.2f} s, warm-up {warm_s - start_s:.2f} s, "
            f"workload {setup_s - warm_s:.2f} s")
        figures = body(ctx, state)
        stats = bench.op_stats()
        rss = peak_rss_mb()
    finally:
        t_stop = time.perf_counter()
        _stop(spark)
        log(f"stopped {t_stop - t0:.2f} s after start, in {time.perf_counter() - t_stop:.2f} s")
    details = {"n_ops": stats["n_ops"], "ops_per_s": stats["ops_per_s"],
               "op_p50_s": stats["op_p50_s"], "op_tail_s": stats["op_tail_s"],
               "op_tail_pct": stats["op_tail_pct"], "peak_rss_mb": rss, "cpus": CPUS,
               "driver_memory": DRIVER_MEMORY}
    end_to_end, per_layer = metrics.spec()
    if args.trace:
        totals = layer_totals(tracer.spans, read_event_log(event_dir))
        figures.update({"session.start_s": start_s, "workload.ops_per_s": stats["ops_per_s"],
                        "workload.cpu_s_per_op": stats["cpu_s_per_op"],
                        "workload.op_p50_s": stats["op_p50_s"],
                        "workload.op_tail_s": stats["op_tail_s"],
                        "workload.op_tail_pct": stats["op_tail_pct"],
                        "workload.peak_rss_mb": rss})
        values = metrics.per_layer_values(per_layer, totals, figures)
        spec = per_layer
    else:
        values = {"setup_s": setup_s, "cpu_s_per_op": stats["cpu_s_per_op"]}
        spec = end_to_end
    log(f"{args.workload}: {stats['n_ops']} ops, {stats['ops_per_s']:.4f} ops/s, "
        f"{stats['cpu_s_per_op']:.4f} cpu s/op, tail {stats['op_tail_s']:.4f} s at "
        f"p{stats['op_tail_pct']:.1f} of {stats['n_ops']} samples")
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(values[k]), "unit": spec[k]["unit"]} for k in spec},
    }
    if args.save:
        with open(args.save, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                "trace": args.trace, "result": result,
                                "details": details}) + "\n")
    return result


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--save", help="append the result as one JSON line to this file")
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "assignment4_spark")):
        log(f"no engine package under {ROOT}; run from a full checkout")
        return 2
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    event_dir = os.path.join(tmp, "events") if args.trace else None
    prepare_env(tmp, event_dir)
    try:
        result = run(args, tmp, event_dir)
    except Exception:
        log(traceback.format_exc())
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
