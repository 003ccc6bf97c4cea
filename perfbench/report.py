#!/usr/bin/env python3
"""Traced-run report, single-thread baseline and trickle rate sweep.

Run from the repository root:

    python3 perfbench/report.py trace --workload trickle --seed 1 --seconds 10
        untraced run, then traced run of the same workload and seed: per-layer
        self time, the dominant layer, and the tracing overhead (the traced
        run's latency_p50_s over the untraced one's)
    python3 perfbench/report.py baseline --seed 1 --seconds 10
        backfill at local[1] and at local[3]: the scaling baseline
    python3 perfbench/report.py sweep --rates 0.2,0.3,0.45,0.7 --seed 1 --seconds 30
        trickle at each landing rate; the sustainable rate is the highest whose
        freshness tail stays within the limit without a growing backlog
"""
import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(workload, seed, seconds, trace=0, cores=3, rate=None):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores)]
    if rate:
        cmd += ["--rate", str(rate)]
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"run failed: {' '.join(cmd)}\n{p.stderr[-2000:]}")
    lines = p.stdout.splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["detail"]


def value(result, name):
    return result["metrics"][name]["value"]


def trace(a):
    plain, _ = run(a.workload, a.seed, a.seconds)
    traced, detail = run(a.workload, a.seed, a.seconds, trace=1)
    selfs = {k[len("self."):]: v["value"] for k, v in traced["metrics"].items() if k.startswith("self.")}
    total = sum(selfs.values()) or 1.0
    print(f"{a.workload} seed {a.seed}: correct {plain['correct']}/{traced['correct']}")
    print("layer self time (s, share of all span time):")
    for layer, s in sorted(selfs.items(), key=lambda kv: -kv[1]):
        if s > 0:
            print(f"  {layer:10s} {s:8.3f}  {s / total:6.1%}")
    print(f"dominant layer: {max(selfs, key=selfs.get)}")
    base = value(plain, "latency_p50_s")
    with_trace = value(traced, "trace.latency_p50_s")
    print(f"latency_p50_s untraced {base:.3f} s, traced {with_trace:.3f} s, "
          f"tracing overhead {with_trace / base - 1:+.1%}")
    counters = {k: v["value"] for k, v in traced["metrics"].items()
                if not k.startswith("self.") and v["value"]}
    print("non-zero per-layer counters:")
    for k, v in counters.items():
        print(f"  {k} = {v:.6g}")
    if "triggers" in detail:
        print("triggers:", json.dumps(detail["triggers"]))


def baseline(a):
    one, _ = run("backfill", a.seed, a.seconds, cores=1)
    three, _ = run("backfill", a.seed, a.seconds, cores=3)
    t1, t3 = value(one, "latency_p50_s"), value(three, "latency_p50_s")
    print(f"backfill drop: local[1] {t1:.3f} s, local[3] {t3:.3f} s, speed-up {t1 / t3:.2f}x")


def sweep(a):
    best = 0.0
    for rate in [float(r) for r in a.rates.split(",")]:
        result, detail = run("trickle", a.seed, a.seconds, rate=rate)
        phase = detail["rate"]
        f = phase["freshness"]
        print(f"rate {rate:5.2f} files/s: freshness p50 {f.get('p50')} tail {f.get('tail')} "
              f"(p{f.get('tail_pct')}, {f.get('tail_beyond')} beyond, n {f['n']}), "
              f"backlog growing {phase['backlog_growing']}, sustainable {phase['sustainable']}")
        if phase["sustainable"]:
            best = max(best, rate)
    print(f"sustainable_files_per_s = {best}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["trace", "baseline", "sweep"])
    ap.add_argument("--workload", default="trickle")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--rates", default="0.2,0.3,0.45,0.7")
    a = ap.parse_args()
    {"trace": trace, "baseline": baseline, "sweep": sweep}[a.mode](a)


if __name__ == "__main__":
    main()
