#!/usr/bin/env python3
"""Steadiness and self-check runs of the benchmark, recorded as JSON.

    python3 perfbench/steady.py spread --workload llm_curate --seeds 1-10 --seconds 15 --out F
    python3 perfbench/steady.py selfcheck --workload cow_incremental --seed 7 --seconds 15 --out F

`spread` runs one workload once per seed and reports, per metric, the median
and the quartile spread (Q3 - Q1) / median; with `--trace 1` it makes traced
runs and summarises `trace.op_p50_s`, whose median over the same seeds as an
untraced set gives the tracing overhead. `selfcheck` runs one
seed traced twice and untraced once: the traced runs' count metrics must be
equal and their byte metrics are compared (manifests and audit rows carry
wall-clock timestamps, so bytes may differ by a few), all three runs must
produce the same outputs, and the traced and untraced operation medians give
the tracing overhead. Run from the
repository root.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} trace {trace}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    result["printed"] = lines[:-1]
    result["digests"] = {l.split()[0]: l.split()[1] for l in lines if l.startswith("output_digest.")}
    return result


def compare_traced(pair):
    """Count metrics of two traced runs must be equal; bytes are compared."""
    a, b = pair
    unequal = {k: [a[k]["value"], b[k]["value"]] for k in a
               if a[k]["unit"] == "count" and a[k]["value"] != b[k]["value"]}
    byte_diff = max(abs(a[k]["value"] - b[k]["value"]) / max(a[k]["value"], b[k]["value"], 1)
                    for k in a if a[k]["unit"] == "bytes")
    return {"counts_repeat": not unequal, "unequal_counts": unequal,
            "bytes_max_relative_difference": byte_diff}


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("spread", "selfcheck"))
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    if args.mode == "spread":
        runs = []
        for seed in seeds(args.seeds):
            r = run(args.workload, seed, args.seconds, args.trace)
            runs.append({"seed": seed, "correct": r["correct"], "attempted": r["attempted"],
                         "failed": r["failed"], "metrics": r["metrics"], "printed": r["printed"]})
            print(seed, {k: round(v["value"], 4) for k, v in r["metrics"].items()
                         if not args.trace or k == "trace.op_p50_s"}, flush=True)
        summary = {}
        for name in ["trace.op_p50_s"] if args.trace else runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            summary[name] = {"median": statistics.median(vals), "spread": spread(vals)}
            print(f"{name}: median {summary[name]['median']:.4g} spread {summary[name]['spread']:.4f}")
        report = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
                  "summary": summary, "runs": runs}
    else:
        traced = [run(args.workload, args.seed, args.seconds, 1) for _ in range(2)]
        plain = run(args.workload, args.seed, args.seconds, 0)
        digests = [r["digests"] for r in traced + [plain]]
        traced_p50 = statistics.median(t["metrics"]["trace.op_p50_s"]["value"] for t in traced)
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            **compare_traced([t["metrics"] for t in traced]),
            "outputs_identical": all(d == digests[0] for d in digests) and bool(digests[0]),
            "digests": digests,
            "all_correct": all(r["correct"] for r in traced + [plain]),
            "op_p50_s": {"untraced": plain["metrics"]["op_p50_s"]["value"], "traced": traced_p50},
            "tracing_overhead": traced_p50 / plain["metrics"]["op_p50_s"]["value"] - 1,
            "traced_metrics": [t["metrics"] for t in traced],
        }
        print(json.dumps({k: v for k, v in report.items()
                          if k not in ("traced_metrics", "digests")}, indent=1))
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
