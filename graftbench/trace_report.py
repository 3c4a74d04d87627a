#!/usr/bin/env python3
"""Record a traced run beside an untraced run of the same seed.

Usage (from the repository root):

    python3 graftbench/trace_report.py --seed <n> [--pairs <k>] [--seconds <s>] [workload ...]

For each workload (default: every workload in BENCHMARK.json) it runs the
benchmark `--pairs` times (seeds n, n+1, ...), each time once with
`--trace 0` and then once with `--trace 1`, and writes
`graftbench/results/<workload>.json`: the first seed's report and result
lines of both runs (with the per-layer counters and the span self-check),
every pair's op medians and machine factors, and the tracing overhead:
the median of the traced runs' op medians over the median of the untraced
runs' op medians, minus one. One pair alone is mostly run-to-run noise.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def run(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or len(lines) < 2:
        sys.exit(f"{workload} --trace {trace} failed ({p.returncode}): "
                 f"{p.stderr.strip()[-400:]}")
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("workloads", nargs="*",
                    default=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args()
    out_dir = os.path.join(BENCH_DIR, "results")
    os.makedirs(out_dir, exist_ok=True)
    for w in args.workloads:
        pairs = []
        for k in range(args.pairs):
            seed = args.seed + k
            rep0, res0 = run(w, seed, args.seconds, 0)
            rep1, res1 = run(w, seed, args.seconds, 1)
            if k == 0:
                first = {"untraced": {"result": res0, "report": rep0},
                         "traced": {"result": res1, "report": rep1}}
            pairs.append({
                "seed": seed,
                "untraced_op_p50_s": res0["metrics"]["op_p50_s"]["value"],
                "traced_op_p50_s":
                    res1["metrics"]["trace.op_p50_s"]["value"],
                "untraced_machine_factor": rep0["machine_factor"],
                "traced_machine_factor": rep1["machine_factor"],
                "span_err_max":
                    res1["metrics"]["trace.span_err_max"]["value"],
            })
        untraced = statistics.median(p["untraced_op_p50_s"] for p in pairs)
        traced = statistics.median(p["traced_op_p50_s"] for p in pairs)
        doc = {
            "workload": w, "seed": args.seed, "seconds": args.seconds,
            "tracing_overhead": traced / untraced - 1.0,
            "span_err_max": max(p["span_err_max"] for p in pairs),
            "pairs": pairs,
            "span_check": first["traced"]["report"].get("span_check", {}),
        }
        doc.update(first)
        path = os.path.join(out_dir, f"{w}.json")
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=False)
            f.write("\n")
        print(f"{w}: overhead {doc['tracing_overhead']:+.3f} over "
              f"{len(pairs)} pairs, span_err_max {doc['span_err_max']:.4f}"
              f" -> {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    main()
