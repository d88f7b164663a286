#!/usr/bin/env python3
"""Steadiness check for the benchmark.

    python3 perfbench/steady.py --runs 10

Runs two sets of ``--runs`` benchmark runs per workload, each run with
its own seed, and prints for every (end-to-end metric, workload): each
set's median and quartiles, the quartile spread as a share of the
median, and whether the spreads and the two medians agree within the
metric's bound from BENCHMARK.json: each spread at most the bound, and
the medians apart by at most the bound (as a share of the first), in
either direction.  Exits 1 if any check fails."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    wall = time.perf_counter() - t
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    print(f"  {workload} seed={seed} wall={wall:.1f}s "
          f"correct={out['correct']} " + " ".join(
              f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
          flush=True)
    out["wall_s"] = wall
    return out


def stats(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main(argv=None) -> int:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(
        w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args(argv)

    workloads = args.workloads.split(",")
    raw: dict = {}
    for s in range(2):
        for w in workloads:
            print(f"set {s + 1} {w}", flush=True)
            raw[(s, w)] = [
                one_run(w, args.seed0 + 1000 * s + i, args.seconds, 0)
                for i in range(args.runs)]

    ok = True
    print(f"\n{'metric':<14}{'workload':<14}{'set':>4}{'median':>12}"
          f"{'q1':>12}{'q3':>12}{'spread':>8}{'bound':>7}  verdict")
    for m in bench["end_to_end"]:
        name, bound = m["name"], m["bound"]
        for w in workloads:
            meds = []
            for s in range(2):
                vals = [r["metrics"][name]["value"] for r in raw[(s, w)]]
                med, q1, q3, spread = stats(vals)
                meds.append(med)
                verdict = "ok"
                if spread > bound:
                    verdict = "SPREAD"
                elif spread > bound / 3:
                    verdict = "ok (spread > bound/3)"
                if s == 1:
                    drift = (meds[1] - meds[0]) / meds[0]
                    if abs(drift) > bound:
                        verdict = f"DRIFT {drift:+.3f}"
                    else:
                        verdict += f", drift {drift:+.3f}"
                if verdict.startswith(("SPREAD", "DRIFT")):
                    ok = False
                print(f"{name:<14}{w:<14}{s + 1:>4}{med:>12.5g}{q1:>12.5g}"
                      f"{q3:>12.5g}{spread:>8.3f}{bound:>7.2f}  {verdict}")
    bad = [(w, r.get("correct"), r.get("failed"))
           for (s, w), runs in raw.items() for r in runs
           if not r.get("correct")]
    if bad:
        ok = False
        print(f"incorrect runs: {bad}")
    walls = [r["wall_s"] for runs in raw.values() for r in runs]
    print(f"\nrun wall time: median {statistics.median(walls):.1f}s, "
          f"max {max(walls):.1f}s over {len(walls)} runs")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
