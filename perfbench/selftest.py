#!/usr/bin/env python3
"""Fast self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it checks that

* a ``--trace 0`` run prints every end-to-end metric with its declared unit,
  and that falsifying one operation's result (``--corrupt``) makes the run
  report ``correct: false`` with ``failed >= 1`` and exit 1;
* a clean ``--trace 1`` run is correct and prints every per-layer metric with
  its declared unit;

and that the command exits non-zero without printing a result in a directory
that holds only BENCHMARK.json and the benchmark's own files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: one operation per workload whose result the corrupt run falsifies
CORRUPT = {
    "taxi_pipeline": "dirty_row_counts",
    "analyst_mix": "a1_group_count",
    "stream_ingest": "stream_counts",
}


def bench(spec, cwd, workload, trace, *extra):
    cmd = list(spec["command"]) + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--scale", "tiny", *extra,
    ]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def check_metrics(res, declared, label) -> list[str]:
    errs = []
    got = res["metrics"]
    for m in declared:
        if m["name"] not in got:
            errs.append(f"{label}: metric {m['name']} missing")
        elif got[m["name"]]["unit"] != m["unit"]:
            errs.append(f"{label}: {m['name']} unit {got[m['name']]['unit']} "
                        f"!= {m['unit']}")
    extra = set(got) - {m["name"] for m in declared}
    if extra:
        errs.append(f"{label}: undeclared metrics {sorted(extra)}")
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errs: list[str] = []
    for w in (x["name"] for x in spec["workloads"]):
        code, res, err = bench(spec, ROOT, w, 0, "--corrupt", CORRUPT[w])
        if res is None:
            errs.append(f"{w} corrupt run printed no result:\n{err[-2000:]}")
        else:
            errs += check_metrics(res, spec["end_to_end"], f"{w} trace 0")
            if code != 1 or res["correct"] or res["failed"] < 1:
                errs.append(f"{w}: corrupted result not detected "
                            f"(exit {code}, {res['failed']} failed)")
        code, res, err = bench(spec, ROOT, w, 1)
        if res is None or code != 0 or not res["correct"] or res["failed"]:
            errs.append(f"{w} clean traced run failed (exit {code}):\n{err[-2000:]}")
        else:
            errs += check_metrics(res, spec["per_layer"], f"{w} trace 1")
        print(f"{w}: checked", flush=True)
    bare = tempfile.mkdtemp(dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, res, _ = bench(spec, bare, spec["workloads"][0]["name"], 0)
        if code == 0 or res is not None:
            errs.append(f"bare checkout: exit {code}, result {res}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    for e in errs:
        print("SELFTEST FAIL:", e)
    print("selftest", "FAILED" if errs else "passed")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
