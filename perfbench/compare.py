"""Compare two result sets written by ``run.py --save``.

    python3 perfbench/compare.py before.jsonl after.jsonl

One row per workload with the median and quartiles of every end-to-end
metric on both sides, then the per-layer medians of the traced runs with
their relative change (every metric that is not 0 on both sides), and
each side's tracing overhead: the traced runs' median
``workload.cpu_s_per_op`` against the untraced runs' median
``cpu_s_per_op``.
"""

import argparse
import json
import statistics
import sys

import metrics


def load(path: str) -> dict:
    """{(workload, trace): {metric: [values]}}"""
    out: dict = {}
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            rec = json.loads(line)
            acc = out.setdefault((rec["workload"], rec["trace"]), {})
            for name, m in rec["result"]["metrics"].items():
                acc.setdefault(name, []).append(m["value"])
    return out


def quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, statistics.median(v), q3


def change(a: float, b: float) -> str:
    return "n/a" if a == 0 else f"{100 * (b - a) / a:+.1f}%"


def overhead(side: dict, workload: str) -> str:
    plain = side.get((workload, 0), {}).get("cpu_s_per_op")
    traced = side.get((workload, 1), {}).get("workload.cpu_s_per_op")
    if not plain or not traced:
        return "n/a"
    return f"{100 * (statistics.median(traced) / statistics.median(plain) - 1):+.1f}%"


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("before")
    p.add_argument("after")
    args = p.parse_args()
    a, b = load(args.before), load(args.after)
    end_to_end, per_layer = metrics.spec()
    for w in sorted({k[0] for k in a} | {k[0] for k in b}):
        print(f"== {w}")
        ea, eb = a.get((w, 0), {}), b.get((w, 0), {})
        cells = []
        for name, m in end_to_end.items():
            unit = m["unit"]
            if name in ea and name in eb:
                qa, qb = quartiles(ea[name]), quartiles(eb[name])
                cells.append(f"{name} [{unit}] {qa[1]:.4g} ({qa[0]:.4g}..{qa[2]:.4g}) -> "
                             f"{qb[1]:.4g} ({qb[0]:.4g}..{qb[2]:.4g}) {change(qa[1], qb[1])}")
        print("   " + " | ".join(cells) if cells else "   (no untraced runs on both sides)")
        print(f"   tracing overhead: {overhead(a, w)} -> {overhead(b, w)}")
        la, lb = a.get((w, 1), {}), b.get((w, 1), {})
        for name, m in per_layer.items():
            if name not in la or name not in lb:
                continue
            ma, mb = statistics.median(la[name]), statistics.median(lb[name])
            if ma == mb == 0:
                continue
            print(f"   {name:48s} {ma:14.6g} -> {mb:14.6g} {m['unit']:6s} "
                  f"{change(ma, mb):>8s} ({m['better']} is better)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
