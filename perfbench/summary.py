#!/usr/bin/env python3
"""Runs the benchmark over several seeds and prints every metric by name and
unit, with its median, spread and sample count, per workload.

  python3 perfbench/summary.py [--workloads a,b] [--seeds 1-10] [--seconds 10] [--trace 1]

The spread is the distance between the first and third quartile as a share
of the median (statistics.quantiles(values, n=4)). Per workload it prints
the end-to-end metrics of BENCHMARK.json, the workload's own named metrics
(movielens_s, mix_s, query_p50_ms, ...) and error_rate; with --trace 1 it
prints the per-layer metrics instead. Per-query latency percentiles pool
the queries of every run and are printed only where at least ten samples
lie beyond them. Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def spread(xs: list):
    if len(xs) < 2:
        return None
    q1, _, q3 = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return (q3 - q1) / med if med else None


def row(name, unit, xs):
    med = statistics.median(xs)
    sp = spread(xs)
    return f"  {name:28s} {unit:6s} median {med:14.6g}   spread {'-' if sp is None else f'{sp:.3f}':>6s}   n {len(xs)}"


def main() -> int:
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    for w in a.workloads.split(","):
        final, detail = [], []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(s),
                                                   "--seconds", str(a.seconds),
                                                   "--trace", str(a.trace)],
                               stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                print(f"{w} seed {s}: run failed with code {p.returncode}", file=sys.stderr)
                continue
            final.append(json.loads(lines[-1]))
            detail.append(json.loads(lines[-2]))
            print(f"{w} seed {s}: run {time.time() - t0:.1f} s, " + ", ".join(
                f"{k} {v['value']:.4g}" for k, v in final[-1]["metrics"].items()
                if k in ("setup_s", "op_s")), file=sys.stderr, flush=True)
        if not final:
            continue
        attempted = sum(f["attempted"] for f in final)
        failed = sum(f["failed"] for f in final)
        print(f"{w}: {len(final)} runs, error_rate {failed / attempted:.4g} "
              f"({failed}/{attempted}), correct {all(f['correct'] for f in final)}")
        metrics = {}
        for f in final:
            for k, v in f["metrics"].items():
                metrics.setdefault(k, (v["unit"], []))[1].append(v["value"])
        named = {}
        for d in detail:
            for k, v in d["metrics"].items():
                named.setdefault(k, (v["unit"], []))[1].append(v["value"])
        metrics.update({k: v for k, v in named.items() if k not in metrics})
        for k in sorted(metrics):
            unit, xs = metrics[k]
            print(row(k, unit, xs))
        lat = [ms for d in detail for op in d["steps_ms"] for _, ms in op]
        if w == "small_query_mix":
            for p in (50, 95):
                if len(lat) * (1 - p / 100) >= 10:
                    v = statistics.quantiles(lat, n=100)[p - 1]
                    print(f"  {'query_p%d_ms' % p:28s} {'ms':6s} value  {v:14.6g}   "
                          f"(pooled)        n {len(lat)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
