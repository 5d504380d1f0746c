"""Summarise or compare untraced run records.

    python3 perfbench/compare.py RUNS.jsonl            # spreads of one set
    python3 perfbench/compare.py BASE.jsonl NEW.jsonl  # NEW against BASE

Records are the lines ``run.py`` appends to ``.perfbench_work/runs.jsonl``.
For every workload and end-to-end number it prints the median, the
quartiles (``statistics.quantiles(values, n=4)``), the spread (quartile
distance / median) and, with two sets, NEW's median against BASE's and
whether the change exceeds the bound BENCHMARK.json gives the metric.

Runs from different core counts are not comparable (every ``BENCH_r0*``
file of the repo is a 32-core number, this benchmark records ``nproc``):
the script refuses, with exit code 2, to mix them.
"""

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    with open(path) as fh:
        return [r for r in map(json.loads, filter(str.strip, fh)) if not r["trace"]]


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return {"n": len(values), "median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main(paths):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    sets = [load(p) for p in paths]
    cores = {r["host"]["nproc"] for s in sets for r in s}
    if len(cores) != 1:
        print(f"refusing to compare runs from different core counts: nproc {sorted(cores)}", file=sys.stderr)
        return 2
    bad = 0
    for workload in sorted({r["workload"] for s in sets for r in s}):
        for name in sets[0][0]["e2e"]:
            m = bounds.get(name)
            rows = [summary([r["e2e"][name] for r in s if r["workload"] == workload]) for s in sets]
            line = "  ".join(f"median={x['median']:.5g} q=[{x['q1']:.5g},{x['q3']:.5g}] spread={x['spread']:.3f} n={x['n']}"
                             for x in rows)
            if m is None:
                line += "  (not gated)"
            elif len(rows) == 2:
                base, new = rows[0]["median"], rows[1]["median"]
                worse = (new - base) / base if m["better"] == "lower" else (base - new) / base
                flag = "WORSE" if worse > m["bound"] else "ok"
                bad += flag == "WORSE"
                line += f"  change={-worse:+.3f} bound={m['bound']} {flag}"
            elif rows[0]["spread"] > m["bound"] / 3:
                line += "  spread above bound/3"
            print(f"{workload:14s} {name:12s} {line}")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1:]))
