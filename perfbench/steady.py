#!/usr/bin/env python3
"""Steadiness evidence: runs the benchmark over several seeds per
workload and reports, for each end-to-end metric, its median, quartiles
and quartile spread (q3 - q1, as a share of the median), next to each
run's host steal time and host probe (a fixed CPU loop timed just before
the run), so a noisy host window can be told apart from the program's own
variance.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 1-10]
        [--trace-overhead] [--details a,b] [--out file]

With --trace-overhead each seed also runs traced, and the report adds the
tracing overhead: the median over seeds of the traced `latency_ms`
minus that of the untraced.
--details summarizes named `detail` lines the same way (for instance
`bridge_s`), and every run's wall time is reported.
Run from the repository root. Workloads, run length and bounds come from
BENCHMARK.json.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402


def seeds_arg(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload, seed, seconds, trace=0):
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None
    detail = {}
    for ln in lines[:-1]:
        parts = ln.split(" ")
        if parts[0] == "detail" and len(parts) == 3:
            detail[parts[1]] = parts[2]
    detail["run_wall_s"] = time.monotonic() - t0
    return json.loads(lines[-1]), detail


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads")
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--trace-overhead", action="store_true")
    ap.add_argument("--details", default="",
                    help="comma-separated detail lines to summarize too")
    ap.add_argument("--out", default=".bench_build/steady.json")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    extra = [d for d in args.details.split(",") if d]
    report = {}
    for w in names:
        runs = []
        for seed in args.seeds:
            got = run_once(w, seed, bench["run_seconds"])
            if got is None:
                print(f"{w} seed {seed}: run failed", flush=True)
                continue
            res, detail = got
            runs.append({"seed": seed, "correct": res["correct"],
                         "failed": res["failed"],
                         "steal_s": float(detail.get("host.steal_s", "nan")),
                         "probe_ms": float(detail.get("host.probe_ms", "nan")),
                         "run_wall_s": detail["run_wall_s"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()},
                         "details": {k: float(detail[k]) for k in extra if k in detail}})
            print(f"{w} seed {seed}: wall {runs[-1]['run_wall_s']:.1f}s "
                  f"steal {runs[-1]['steal_s']:.2f}s "
                  f"probe {runs[-1]['probe_ms']:.0f}ms "
                  + " ".join(f"{k}={v:.4g}" for k, v in runs[-1]["metrics"].items()),
                  flush=True)
        summary = {}
        for m in bounds:
            vals = [r["metrics"][m] for r in runs if m in r["metrics"]]
            if len(vals) < 2:
                continue
            med, q1, q3, spread = benchlib.quartile_spread(vals)
            summary[m] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                          "bound": bounds[m], "within_third": spread < bounds[m] / 3}
            print(f"{w} {m}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} "
                  f"spread {spread:.3f} (bound {bounds[m]})", flush=True)
        for d in extra:
            vals = [r["details"][d] for r in runs if d in r["details"]]
            if len(vals) < 2:
                continue
            med, q1, q3, spread = benchlib.quartile_spread(vals)
            summary[d] = {"median": med, "q1": q1, "q3": q3, "spread": spread}
            print(f"{w} {d} (detail): median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} "
                  f"spread {spread:.3f}", flush=True)
        walls = [r["run_wall_s"] for r in runs]
        if walls:
            summary["run_wall_s"] = {"median": benchlib.percentile(walls, 50),
                                     "max": max(walls)}
            print(f"{w} run wall: median {summary['run_wall_s']['median']:.1f}s "
                  f"max {max(walls):.1f}s", flush=True)
        if args.trace_overhead:
            traced = [run_once(w, seed, bench["run_seconds"], trace=1)
                      for seed in args.seeds]
            on = [float(got[1]["latency_ms"]) for got in traced if got]
            off = [r["metrics"]["latency_ms"] for r in runs]
            if on and off:
                on_m, off_m = benchlib.percentile(on, 50), benchlib.percentile(off, 50)
                summary["trace_overhead"] = {
                    "traced_ms": on_m, "untraced_ms": off_m,
                    "delta_ms": on_m - off_m, "share": on_m / off_m - 1}
                print(f"{w} tracing overhead: {on_m - off_m:+.4g} ms "
                      f"({on_m / off_m - 1:+.3f} of the untraced median)", flush=True)
        report[w] = {"runs": runs, "summary": summary}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
