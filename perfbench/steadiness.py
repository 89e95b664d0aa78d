#!/usr/bin/env python3
"""Steadiness evidence for the benchmark.

    python3 perfbench/steadiness.py [--runs 10] [--workloads a,b] [--out perfbench/STEADINESS.json]

For each workload: `--runs` untraced runs, each with another seed, and the
run-to-run spread of every end-to-end metric, (q3 - q1) / median with
quartiles as `statistics.quantiles(values, n=4)` gives them; then two
traced runs at one seed, which show whether each count metric repeats
exactly, and the tracing overhead (traced median op over the untraced
median of medians). It also records each run's op drift, the mean of
the last ops over the mean of the first ones (up to ten each), which
reads near 1 when warm-up has let the JIT settle. Writes one JSON
record; each run's result is appended to .bench_build/steadiness-runs.jsonl.
"""

import argparse
import ast
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402


def run(workload, seed, seconds, trace, log):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[:3000]}", flush=True)
        log.write(json.dumps({"workload": workload, "seed": seed, "trace": trace,
                              "exit": p.returncode, "stderr": p.stderr[:3000]}) + "\n")
        log.flush()
        return None
    out = json.loads(lines[-1])
    out["log"] = [l for l in p.stderr.splitlines() + lines if l.startswith(
        ("perfbench: session", "op_tail_s", "op populations", "check:"))]
    ops = ast.literal_eval(p.stderr.split(" ops ")[-1].splitlines()[0])
    k = max(1, min(10, len(ops) // 2))
    out["late_early"] = (sum(ops[-k:]) / k) / (sum(ops[:k]) / k)
    log.write(json.dumps({"workload": workload, "seed": seed, "trace": trace, **out}) + "\n")
    log.flush()
    return out


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--out", default=os.path.join(HERE, "STEADINESS.json"))
    args = ap.parse_args()
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    record = {"run_seconds": seconds, "runs": args.runs, "workloads": {}}
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    log = open(os.path.join(ROOT, ".bench_build", "steadiness-runs.jsonl"), "a")
    for w in args.workloads.split(","):
        runs = [run(w, 100 + i, seconds, 0, log) for i in range(args.runs)]
        results = [r for r in runs if r]
        values = {m: [r["metrics"][m]["value"] for r in results] for m in bounds}
        traced = [r for r in (run(w, 100, seconds, 1, log) for _ in range(2)) if r]
        if len(results) < 2 or len(traced) < 2:
            sys.exit(f"{w}: too many runs exited with an error")
        t0, t1 = (r["metrics"] for r in traced)
        counts = [m for m, v in t0.items() if v["unit"] == "count"]
        p50 = stats.median(values["op_p50_s"])
        rec = {
            "runs_exited_with_error": len(runs) - len(results) + 2 - len(traced),
            "all_correct": all(r["correct"] for r in results + traced),
            "failed": sum(r["failed"] for r in results + traced),
            "spread": {m: round(stats.quartile_spread(v), 4) for m, v in values.items()},
            "spread_over_bound": {m: round(stats.quartile_spread(v) / bounds[m], 3)
                                  for m, v in values.items()},
            "median": {m: stats.median(v) for m, v in values.items()},
            "counts_repeat_exactly": {m: t0[m]["value"] == t1[m]["value"] for m in counts
                                      if t0[m]["value"] or t1[m]["value"]},
            "op_late_early": [round(r["late_early"], 3) for r in results],
            "trace_overhead": round(stats.median([t0["trace.op_p50_s"]["value"],
                                                  t1["trace.op_p50_s"]["value"]]) / p50 - 1, 4),
            "values": values,
            "logs": [r["log"] for r in results],
        }
        record["workloads"][w] = rec
        print(w, json.dumps({k: rec[k] for k in ("all_correct", "spread_over_bound",
                                                 "op_late_early", "trace_overhead")}), flush=True)
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
