#!/usr/bin/env python3
"""Run-to-run spread and tracing overhead of the benchmark.

    python3 perfbench/spread.py --workloads analytics,live_ingest --seeds 1-10
    python3 perfbench/spread.py --workloads live_ingest --seeds 1-3 --trace-overhead

For each workload, runs run.py once per seed and prints, per end-to-end
metric, the median and the inter-quartile range as a share of the median
(statistics.quantiles(values, n=4)), next to the metric's bound in
BENCHMARK.json, plus the slowest run's wall time. With --trace-overhead it
also makes one traced run per seed and prints traced minus untraced for the
workload's primary latency (trace.latency_ms - latency_ms) and rate.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def run(workload, seed, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]),
                        "--trace", str(trace)], capture_output=True, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(lines[-1]), wall


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in SPEC["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace-overhead", action="store_true")
    a = ap.parse_args()
    for w in a.workloads.split(","):
        recs = []
        for s in seeds(a.seeds):
            recs.append(run(w, s, 0))
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in recs[-1][0]["metrics"].items())
            print(f"  {w} seed {s}: {recs[-1][1]:.1f} s wall  {vals}", flush=True)
        print(f"== {w}: {len(recs)} runs, slowest {max(r[1] for r in recs):.1f} s wall")
        for m in SPEC["end_to_end"]:
            vals = [r[0]["metrics"][m["name"]]["value"] for r in recs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            print(f"  {m['name']:<20} median {med:12.4f} {m['unit']:<5} "
                  f"iqr/median {(q[2] - q[0]) / med:6.3f}  bound {m['bound']}")
        if a.trace_overhead:
            traced = [run(w, s, 1)[0]["metrics"] for s in seeds(a.seeds)]
            for layer, e2e in (("trace.latency_ms", "latency_ms"),
                               ("trace.throughput_per_s", "throughput_per_s")):
                t = statistics.median(x[layer]["value"] for x in traced)
                u = statistics.median(r[0]["metrics"][e2e]["value"] for r in recs)
                print(f"  tracing overhead {e2e}: traced {t:.4f} - untraced {u:.4f}"
                      f" = {t - u:+.4f} ({(t - u) / u:+.1%})")


if __name__ == "__main__":
    main()
