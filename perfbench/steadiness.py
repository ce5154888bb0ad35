#!/usr/bin/env python3
"""Steadiness report: run workloads repeatedly and compare the spread of
each end-to-end metric with the bound declared in BENCHMARK.json.

    python3 perfbench/steadiness.py                       # every workload, 10 seeds
    python3 perfbench/steadiness.py --workloads stream_ingest --runs 5

For each metric it prints the median, the first and third quartiles
(``statistics.quantiles(values, n=4)``) and the spread ``(q3 - q1) / median``
next to the bound, then the CPU steal each run saw.  A metric is steady when
its spread is below a third of its bound.
Exits 1 if any run fails or any metric is not steady.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(spec: dict, workload: str, seed: int, trace: int = 0) -> dict:
    cmd = list(spec["command"]) + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(
            f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}"
        )
    res = json.loads(lines[-1])
    steal = re.search(r"cpu steal ([0-9.]+)", p.stderr)
    res["cpu_steal"] = float(steal.group(1)) if steal else float("nan")
    return res


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", default=names)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    unsteady = 0
    for wl in args.workloads:
        vals: dict[str, list[float]] = {m: [] for m in bounds}
        steal = []
        t0 = time.time()
        for i in range(args.runs):
            res = run_once(spec, wl, args.first_seed + i)
            if not res["correct"]:
                print(f"{wl}: seed {args.first_seed + i} reported wrong results")
                return 1
            for m in bounds:
                vals[m].append(res["metrics"][m]["value"])
            steal.append(res["cpu_steal"])
        took = time.time() - t0
        print(f"\n{wl}: {args.runs} runs, {took / args.runs:.1f} s per run")
        print(f"  {'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}"
              f"{'spread':>9}{'bound':>8}  verdict")
        for m, b in bounds.items():
            med, q1, q3, sp = spread(vals[m])
            if sp < b / 3:
                verdict = "steady"
            else:
                verdict = "NOT STEADY"
                unsteady += 1
            print(f"  {m:<16}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}"
                  f"{sp:>9.3f}{b:>8.2f}  {verdict}")
        print("  values: " + json.dumps({m: [round(v, 4) for v in vs]
                                         for m, vs in vals.items()}))
        # CPU time the hypervisor gave other guests during each run: runs
        # that read slow together with high steal were slowed by the host
        print("  cpu steal per run: " + json.dumps([round(v, 3) for v in steal]))
    return 1 if unsteady else 0


if __name__ == "__main__":
    sys.exit(main())
