#!/usr/bin/env python3
"""Repeat-run report: runs the benchmark once per seed on each workload
and prints, per end-to-end metric, the median, the quartiles and the
spread (interquartile distance as a share of the median), next to the
metric's bound from BENCHMARK.json.

Usage (from the repository root):
  python3 perfbench/report.py [--workloads a,b] [--seeds 1-10] [--out FILE]

Every run's result line is appended to FILE (JSON lines) as it lands, so
an interrupted report keeps what it measured.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b) + 1)) if b else [int(a)]
    return out


def summarize(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for wl in args.workloads.split(","):
        runs = []
        for seed in seeds_of(args.seeds):
            cmd = bench["command"] + ["--workload", wl, "--seed", str(seed),
                                      "--seconds", str(args.seconds),
                                      "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: FAILED (exit {p.returncode})")
                print("  " + "\n  ".join(p.stderr.strip().splitlines()[-5:]))
                ok = False
                continue
            res = json.loads(lines[-1])
            runs.append(res)
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps({"workload": wl, "seed": seed,
                                         **res}) + "\n")
            vals = " ".join(f"{k}={v['value']:.4g}"
                            for k, v in res["metrics"].items())
            print(f"{wl} seed {seed}: correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} {vals}",
                  flush=True)
            ok &= res["correct"]
        if len(runs) < 2:
            continue
        print(f"\n{wl}: {len(runs)} runs")
        print(f"  {'metric':<18}{'median':>12}{'q1':>12}{'q3':>12}"
              f"{'spread':>9}{'bound':>7}")
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r in runs]
            med, q1, q3, spread = summarize(vals)
            flag = "" if name == "setup_s" or spread < bounds[name] / 3 \
                else "  <-- above bound/3"
            print(f"  {name:<18}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}"
                  f"{spread:>9.3f}{bounds[name]:>7.2f}{flag}")
        print(flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
