#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload taxi_pipeline --seed 1 --seconds 20 --trace 0

Run it from the repository root.  Each run is a fresh Spark driver process on
``local[<cores>]`` with one client.  Inputs are generated from ``--seed``
before anything is timed; warm-up passes run and are discarded; then
operations run back to back for ``--seconds`` (whole passes) and every result
is checked.  ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` adds
one traced pass after the untraced ones and prints the per-layer metrics plus
the tracing overhead (traced minus median untraced pass wall time).
The span tree of a traced run is written to ``.perfbench_work/traces/``.

A wrong or failed operation counts in ``failed``; the run then prints
``"correct": false`` and exits 1.  Without the engine package next to this
directory the run prints nothing on stdout and exits 2.
"""

from __future__ import annotations

import argparse
import bisect
import json
import os
import shutil
import signal
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import session_env  # noqa: E402

#: input sizes per workload; "tiny" is the self-test scale
SIZES = {
    "full": {
        "taxi_rows": 15_000,
        "lineitem": 20_000,
        "rows_per_file": 2_000, "dup_per_file": 20, "interval_s": 2.0,
    },
    "tiny": {
        "taxi_rows": 4_000,
        "lineitem": 6_000,
        "rows_per_file": 200, "dup_per_file": 5, "interval_s": 0.5,
    },
}

#: a cold pass is up to 2.4x slower than a warm one, and the JIT keeps the
#: next one 15-30% slower still
WARMUP_PASSES = 2
#: measured passes per run at least
MIN_PASSES = 1

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "rows_per_s": "1/s",
    "query_p50_ms": "ms", "query_p90_ms": "ms", "queries_per_s": "1/s",
    "event_p50_ms": "ms", "event_p90_ms": "ms",
}
PER_LAYER = {
    "session.get_spark_s": "s", "session.first_job_s": "s",
    "registry.build_s": "s", "registry.build_jobs": "count",
    "registry.py4j_calls": "count",
    "sql.parse_analyze_s": "s",
    "plan.s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_failures": "count",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "sources.read_s": "s", "sources.scan_rows": "count",
    "sources.scan_bytes": "bytes", "sources.partitions_read": "count",
    "sources.rows_examined_per_row_returned": "ratio",
    "sources.write_s": "s", "sources.write_files": "count",
    "sources.write_bytes": "bytes",
    "stored_bytes_ratio": "ratio",
    "caching.persisted_after_op": "count",
    "stream.trigger_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms", "stream.get_batch_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.state_rows": "count",
    "stream.state_bytes": "bytes", "stream.batches": "count",
    "stream.backlog_files": "count", "stream.generator_late_ms": "ms",
    "probe.py4j_rtt_us": "us", "probe.trivial_job_s": "s",
    "probe.cpu_steal_frac": "frac",
    "trace.overhead_s": "s",
    "failed_frac": "frac",
    "peak_rss_mb": "MB",
}
WORKLOADS = ("taxi_pipeline", "analyst_mix", "stream_ingest")


def pct(values: list[float], q: int) -> float:
    """q-th percentile (inclusive interpolation)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def cpu_jiffies() -> tuple[int, int]:
    """(all, steal) CPU time since boot from /proc/stat, in clock ticks."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return sum(ticks), ticks[7]


def probes(spark) -> dict[str, float]:
    """Calibration: py4j round trip and a trivial Spark job."""
    jvm = spark.sparkContext._jvm
    rtt = []
    for _ in range(200):
        t = time.perf_counter()
        jvm.java.lang.System.nanoTime()
        rtt.append(time.perf_counter() - t)
    jobs = []
    for _ in range(5):
        t = time.perf_counter()
        spark.range(1).count()
        jobs.append(time.perf_counter() - t)
    return {"probe.py4j_rtt_us": statistics.median(rtt) * 1e6,
            "probe.trivial_job_s": statistics.median(jobs)}


# ---------------------------------------------------------------------------


def make_workload(name: str, work: str, seed: int, size: dict):
    import workloads as wl

    if name == "taxi_pipeline":
        return wl.TaxiPipeline(work, seed, size["taxi_rows"])
    if name == "analyst_mix":
        return wl.RegistryMix(work, seed, size["lineitem"])
    return wl.StreamIngest(work, seed, size["rows_per_file"],
                           size["dup_per_file"], size["interval_s"])


def run_passes(w, runner, seconds: float, min_passes: int, start_no: int):
    """``min_passes`` passes, then more while another one of the same
    length still fits into ``seconds``."""
    passes = []
    t0 = time.perf_counter()
    while len(passes) < min_passes or (
        (time.perf_counter() - t0) * (len(passes) + 1) / len(passes) <= seconds
    ):
        passes.append(w.run_pass(runner, start_no + len(passes)))
    return passes


def pass_wall(ops) -> float:
    """A pass's time: its operations back to back (checks excluded)."""
    return sum(o.latency for o in ops)


def pass_metrics(w, passes) -> dict[str, float]:
    ops = [o for p in passes for o in p]
    walls = [pass_wall(p) for p in passes]
    lat = [o.latency * 1000 for o in ops]
    wall = statistics.median(walls)
    p50, p90 = statistics.median(lat), pct(lat, 90)
    return {
        "wall_s": wall,
        "rows_per_s": w.input_rows / wall,
        "query_p50_ms": p50,
        "query_p90_ms": p90,
        "queries_per_s": len(ops) / sum(walls),
        # one client in a closed loop issues an operation when the previous
        # one returns, so an operation is due when it starts
        "event_p50_ms": p50,
        "event_p90_ms": p90,
    }


def layer_metrics(tracer) -> dict[str, float]:
    """Per-layer figures of the traced pass (or traced stream)."""
    tot = tracer.totals()
    c = tracer.counts
    out = {
        "registry.build_s": tot.get("registry.build", 0.0),
        "sql.parse_analyze_s": tot.get("sql.parse_analyze", 0.0),
        "plan.s": tot.get("plan", 0.0),
        "exec.s": tot.get("exec", 0.0),
        "sources.read_s": tot.get("sources.read", 0.0),
        "sources.write_s": tot.get("sources.write", 0.0),
    }
    for k in ("registry.build_jobs", "registry.py4j_calls",
              "caching.persisted_after_op"):
        out[k] = c[k]
    for k in ("jobs", "stages", "tasks", "task_failures",
              "shuffle_write_bytes", "spill_bytes"):
        out[f"exec.{k}"] = c[f"exec.{k}"]
    for k in ("scan_rows", "scan_bytes", "partitions_read"):
        out[f"sources.{k}"] = c[f"sources.{k}"]
    out["sources.rows_examined_per_row_returned"] = c["sources.scan_rows"] / max(
        1, c["rows_returned"]
    )
    return out


def stream_metrics(r: dict) -> tuple[dict, dict]:
    """(end-to-end, per-layer) figures of one stream run.

    The three queries do different work per trigger, so trigger and event
    latencies are taken per query and their percentiles averaged over the
    queries; a percentile of the pooled samples would jump between the
    queries' modes."""
    import workloads as wl

    # query -> [(file-source log offset a trigger read up to, its commit
    # time)]; a file's log offset is not a batch id, since a query's batch
    # ids also count its no-data batches
    ends: dict[str, list[tuple[int, float]]] = {}
    data_prog = []
    for q, plist in r["progress"].items():
        ends[q] = []
        for p in plist:
            if p.get("numInputRows", 0) > 0:
                w_end = wl.progress_end(p)
                ends[q].append((p["sources"][0]["endOffset"]["logOffset"], w_end))
                data_prog.append((q, p, w_end))
        ends[q].sort()

    def committed(q: str, fname: str) -> float | None:
        """Commit time of the trigger of ``q`` that read file ``fname``."""
        if fname not in r["consumed"][q]:
            return None
        i = bisect.bisect_left(ends[q], (r["consumed"][q][fname], 0.0))
        return ends[q][i][1] if i < len(ends[q]) else None

    # one latency per (file, query): due time -> commit of the trigger of
    # that query which consumed the file
    lat = {q: [] for q in ends}
    late, commit = [], {}
    for fname, (due, written, _) in sorted(r["drops"].items()):
        done = {q: t for q in ends if (t := committed(q, fname)) is not None}
        if not done:  # never consumed: the file check reports it
            continue
        commit[fname] = max(done.values())
        late.append((written - due) * 1000)
        if not fname.startswith("events-00000-"):  # schema seed, dropped at start
            for q, d in done.items():
                lat[q].append((d - due) * 1000)
    trig_q = {q: [p["durationMs"].get("triggerExecution", 0)
                  for qq, p, _ in data_prog if qq == q] for q in ends}

    def per_query(samples: dict[str, list[float]], q: int) -> float:
        return statistics.mean(pct(v, q) for v in samples.values())

    trig = [p["durationMs"].get("triggerExecution", 0) for _, p, _ in data_prog]
    busy_s = sum(trig) / 1000.0
    rows_in = sum(p["numInputRows"] for _, p, _ in data_prog)
    first_due = min(d for d, _, _ in r["drops"].values())
    wall = max(commit.values()) - first_due
    # backlog: files dropped but not yet committed, at each drop instant
    backlog = max(
        sum(1 for f, (_, wr, _) in r["drops"].items()
            if wr <= t and commit.get(f, float("inf")) > t)
        for t in (wr for _, wr, _ in r["drops"].values())
    )
    e2e = {
        "wall_s": wall,
        "rows_per_s": rows_in / busy_s,
        "query_p50_ms": per_query(trig_q, 50),
        "query_p90_ms": per_query(trig_q, 90),
        "queries_per_s": len(trig) / wall,
        "event_p50_ms": per_query(lat, 50),
        "event_p90_ms": per_query(lat, 90),
    }
    print("stream per query (ms): " + ", ".join(
        f"{q} trigger p50 {pct(trig_q[q], 50):.0f} p90 {pct(trig_q[q], 90):.0f}"
        f" event p50 {pct(lat[q], 50):.0f} p90 {pct(lat[q], 90):.0f}"
        f" ({len(trig_q[q])} triggers)" for q in ends), file=sys.stderr)

    def med(key):
        vals = [p["durationMs"].get(key, 0) for _, p, _ in data_prog]
        return statistics.median(vals) if vals else 0.0

    last_counts = r["progress"]["counts"][-1] if r["progress"]["counts"] else {}
    ops = last_counts.get("stateOperators", [])
    layers = {
        "stream.trigger_ms": statistics.median(trig),
        "stream.add_batch_ms": med("addBatch"),
        "stream.query_planning_ms": med("queryPlanning"),
        "stream.get_batch_ms": med("getBatch"),
        "stream.wal_commit_ms": med("walCommit"),
        "stream.state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
        "stream.state_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
        "stream.batches": len(data_prog),
        "stream.backlog_files": backlog,
        "stream.generator_late_ms": pct(late, 90),
        "plan.s": sum(p["durationMs"].get("queryPlanning", 0)
                      for _, p, _ in data_prog) / 1000.0,
        "exec.s": busy_s,
    }
    return e2e, layers


# ---------------------------------------------------------------------------


def run_stream(args, w, spark, tracer) -> tuple[dict, dict, int, int, list]:
    import workloads as wl

    untraced = wl.Runner(spark, wl.Tracer(False), corrupt=args.corrupt)
    w.warm_up(untraced)
    runner = wl.Runner(spark, tracer, corrupt=args.corrupt)
    r = w.measure(runner, args.seconds)
    checks = w.check(runner, r)
    attempted = len(r["drops"]) + len(checks)
    failed = sum(1 for _, ok in checks if not ok)
    errors = runner.errors + [f"{n}: wrong result" for n, ok in checks if not ok]
    e2e, layers = stream_metrics(r)
    per_layer = {}
    if tracer.enabled:
        for q, plist in r["progress"].items():
            for p in plist:
                if p.get("numInputRows", 0) > 0:
                    end = wl.progress_end(p)
                    tracer.add_span(
                        "stream.trigger",
                        end - p["durationMs"]["triggerExecution"] / 1000.0,
                        end, f"{q}.{p['batchId']}",
                    )
        stats = {k: 0 for k in ("jobs", "stages", "tasks", "task_failures")}
        for rid in r["run_ids"].values():
            for k, v in tracer.group_stats(spark.sparkContext, rid).items():
                stats[k] += v
        per_layer = layer_metrics(tracer)
        per_layer.update(layers)
        per_layer.update({f"exec.{k}": v for k, v in stats.items()})
        files, nbytes = wl.dir_bytes(r["state"])
        per_layer["sources.write_files"] = files
        per_layer["sources.write_bytes"] = nbytes
        per_layer["stored_bytes_ratio"] = nbytes / w.input_bytes
        # the stream runs identically with the tracer on: its spans come
        # from the progress log after the run, so tracing costs no run time
        per_layer["trace.overhead_s"] = 0.0
    w.cleanup(r)
    return e2e, per_layer, attempted, failed, errors


def run_pass_workload(args, w, spark, tracer):
    import workloads as wl

    runner = wl.Runner(spark, wl.Tracer(False), corrupt=args.corrupt)
    attempted = failed = 0

    def tally(passes):
        nonlocal attempted, failed
        for p in passes:
            attempted += len(p)
            failed += sum(1 for o in p if not o.ok)

    warm = [w.run_pass(runner, -1 - i) for i in range(WARMUP_PASSES)]
    tally(warm)
    passes = run_passes(w, runner, args.seconds, MIN_PASSES, 0)
    tally(passes)
    print("pass wall (s): warm-up " + ", ".join(f"{pass_wall(p):.2f}" for p in warm)
          + "; measured " + ", ".join(f"{pass_wall(p):.2f}" for p in passes),
          file=sys.stderr)
    e2e = pass_metrics(w, passes)
    per_layer = {}
    errors = runner.errors
    if tracer.enabled:
        runner = wl.Runner(spark, tracer, corrupt=args.corrupt)
        tracer.install_py4j_counter(spark)
        traced = run_passes(w, runner, 0, 1, 1000)
        tally(traced)
        errors = errors + runner.errors
        per_layer = layer_metrics(tracer)
        per_layer["trace.overhead_s"] = statistics.median(
            map(pass_wall, traced)) - statistics.median(map(pass_wall, passes))
        if isinstance(w, wl.TaxiPipeline):
            files, nbytes = w.write_stats
            per_layer["sources.write_files"] = files
            per_layer["sources.write_bytes"] = nbytes
            per_layer["stored_bytes_ratio"] = nbytes / w.truth["csv_bytes"]
    return e2e, per_layer, attempted, failed, errors


def run(args, work: str) -> tuple[dict, int]:
    t_start = time.perf_counter()
    session_env.prepare_env(work)
    spark, own = session_env.timed_setup(work)
    t_setup = time.perf_counter()

    # imported only now: its numpy/pyarrow imports would otherwise shorten
    # the engine import that setup_s measures
    import workloads as wl

    tracer = wl.Tracer(bool(args.trace))
    tracer.add_span("session.get_spark", *own.pop("get_spark_span"))
    w = make_workload(args.workload, work, args.seed, SIZES[args.scale])
    w.prepare(spark)
    t_inputs = time.perf_counter()
    cpu0 = cpu_jiffies()
    if isinstance(w, wl.StreamIngest):
        e2e, per_layer, attempted, failed, errors = run_stream(args, w, spark, tracer)
    else:
        e2e, per_layer, attempted, failed, errors = run_pass_workload(
            args, w, spark, tracer)
    cpu1 = cpu_jiffies()
    # share of this VM's CPU time the hypervisor gave to other guests while
    # the workload ran: the context for a run that reads slow
    steal = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
    if tracer.enabled:
        per_layer.update(probes(spark))
        per_layer["probe.cpu_steal_frac"] = steal
    t_measured = time.perf_counter()
    from pyspark import SparkContext

    pids = [os.getpid()]
    if getattr(SparkContext._gateway, "proc", None) is not None:
        pids.append(SparkContext._gateway.proc.pid)
    per_layer["peak_rss_mb"] = peak_rss_mb(pids)
    session_env.stop_spark(spark)
    print(f"phases (s): setup {t_setup - t_start:.1f}, inputs "
          f"{t_inputs - t_setup:.1f}, warm-up + measure {t_measured - t_inputs:.1f},"
          f" stop {time.perf_counter() - t_measured:.1f};"
          f" {attempted} operations checked; cpu steal {steal:.3f}",
          file=sys.stderr)
    for e in errors[:20]:
        print("FAILED", e, file=sys.stderr)

    if tracer.enabled:
        per_layer["session.get_spark_s"] = own["get_spark_s"]
        per_layer["session.first_job_s"] = own["first_job_s"]
        per_layer["failed_frac"] = failed / max(1, attempted)
        self_s = tracer.self_times()
        print("self time per span (s): " + ", ".join(
            f"{k}={v:.3f}" for k, v in sorted(self_s.items())))
        traces = os.path.join(session_env.ROOT, ".perfbench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"),
                    {"workload": args.workload, "seed": args.seed,
                     "per_layer": per_layer})
        metrics = {k: {"value": float(per_layer.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        e2e["setup_s"] = own["setup_s"]
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}, (0 if failed == 0 else 1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(SIZES), default="full")
    ap.add_argument("--corrupt", default=None,
                    help="self-test: falsify this operation's result")
    args = ap.parse_args(argv)
    if not session_env.package_present():
        print(f"engine package {session_env.PKG} not found next to "
              f"{session_env.HERE}", file=sys.stderr)
        return 2
    work = os.path.join(session_env.ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, code = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
