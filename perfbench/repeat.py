#!/usr/bin/env python3
"""Repeat harness: run workloads N times (one seed each) and summarise.

    python3 perfbench/repeat.py --runs 10 [--workloads a,b] [--seconds 10]
        [--seed0 100] [--trace-runs 2] [--out FILE]

For each workload and end-to-end metric it prints the median, the first and
third quartiles (Python's statistics.quantiles(values, n=4)), and the spread
(Q3 - Q1) / median. It then derives a bound per metric: three times the
largest spread seen, at least 0.1 and at most 0.25. With --trace-runs it also runs traced and reports
the tracing overhead per workload: the traced median of the primary op
minus the untraced one. Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def bench_workloads():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} failed with exit code {p.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = time.time() - t0
    return res


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    bench = bench_workloads()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--trace-runs", type=int, default=0)
    ap.add_argument("--out", help="append every run's result line to this file")
    a = ap.parse_args()

    names = [m["name"] for m in bench["end_to_end"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {}
    for w in a.workloads.split(","):
        runs = []
        for i in range(a.runs):
            r = run_once(w, a.seed0 + i, a.seconds, 0)
            runs.append(r)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": a.seed0 + i, "trace": 0, **r}) + "\n")
            print(f"{w} seed {a.seed0 + i}: {r['wall_s']:.0f} s correct={r['correct']} "
                  + " ".join(f"{k}={r['metrics'][k]['value']:.4g}" for k in names), flush=True)
        rows = {}
        for k in names:
            med, q1, q3, sp = spread([r["metrics"][k]["value"] for r in runs])
            rows[k] = dict(median=med, q1=q1, q3=q3, spread=sp, bound=bounds.get(k))
        traced = []
        for i in range(a.trace_runs):
            traced.append(run_once(w, a.seed0 + i, a.seconds, 1))
        if traced:
            t_med = statistics.median(r["metrics"]["trace.op_p50_ms"]["value"] for r in traced)
            rows["trace_overhead_ms"] = t_med - rows["op_p50_ms"]["median"]
        summary[w] = dict(metrics=rows, wall_s=statistics.median(r["wall_s"] for r in runs),
                          all_correct=all(r["correct"] for r in runs))
        for k, v in rows.items():
            if isinstance(v, dict):
                flag = "" if v["bound"] is None or v["spread"] <= v["bound"] / 3 \
                    else "  <-- above a third of the bound"
                print(f"  {k:14s} median {v['median']:.5g}  q1 {v['q1']:.5g}  q3 {v['q3']:.5g}  "
                      f"spread {v['spread']:.3f}  bound {v['bound']}{flag}")
            else:
                print(f"  {k}: {v:.1f}")
    derived = {}
    for k in names:
        worst = max(s["metrics"][k]["spread"] for s in summary.values())
        derived[k] = round(min(0.25, max(0.1, 3 * worst)), 2)
    print(json.dumps({"summary": summary, "derived_bounds": derived}, indent=1))


if __name__ == "__main__":
    main()
