"""The benchmark workloads.

Pass-based workloads (``taxi_pipeline``, ``analyst_mix``) run a list of
operations back to back with one client; every operation is timed from
build through ``collect`` and checked.  ``stream_ingest`` is an
open loop fed by a generator thread on a fixed schedule.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import time
from datetime import datetime, timezone
from typing import NamedTuple

from checks import canonical, oracle_results, same_rows, taxi_expectations
from gen import EventFiles, write_tables, write_trips_csv
from tracing import Tracer, plan_metrics

perf = time.perf_counter


def dir_bytes(path: str, pattern: str = "**/*") -> tuple[int, int]:
    """(files, bytes) of the data files under ``path`` (no hidden/CRC)."""
    n = b = 0
    for f in glob.glob(os.path.join(path, pattern), recursive=True):
        name = os.path.basename(f)
        if os.path.isfile(f) and not name.startswith((".", "_")):
            n += 1
            b += os.path.getsize(f)
    return n, b


class OpResult(NamedTuple):
    name: str
    latency: float
    ok: bool


class Runner:
    """Times, traces and checks one operation at a time."""

    def __init__(self, spark, tracer: Tracer, corrupt: str | None = None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.corrupt = corrupt
        self.errors: list[str] = []

    def op(self, op_id: str, name: str, build, finish=None,
           build_span: str = "registry.build", exec_span: str = "exec",
           check=None) -> OpResult:
        """Run ``build()`` then ``finish(df)`` (default ``df.collect()``).

        ``check(df, result)`` is evaluated after timing; a raised exception
        or a failed check marks the operation failed."""
        tr, sc = self.tracer, self.sc
        result, df, ok = None, None, True
        t0 = perf()
        try:
            gid_build = tr.new_group(sc, op_id, "build")
            calls0 = tr.py4j_calls
            with tr.span(build_span, op_id):
                df = build()
            if tr.enabled:
                tr.count("registry.py4j_calls", tr.py4j_calls - calls0)
                if df is not None and build_span != "sql.parse_analyze":
                    with tr.span("sql.parse_analyze", op_id):
                        df._jdf.queryExecution().analyzed()
                if df is not None:
                    with tr.span("plan", op_id):
                        df._jdf.queryExecution().executedPlan()
            gid_collect = tr.new_group(sc, op_id, "collect")
            with tr.span(exec_span, op_id):
                if finish is not None:
                    result = finish(df)
                elif df is not None:
                    result = df.collect()
            if tr.enabled:
                tr.clear_group(sc)
        except Exception as e:  # an operation that raises is a failure
            ok = False
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        latency = perf() - t0
        if tr.enabled and ok:
            self._trace_counts(gid_build, gid_collect, df, result)
        if ok and self.corrupt == name:
            result = _corrupted(result)
        if ok and check is not None:
            try:
                ok = bool(check(df, result))
            except Exception as e:
                ok = False
                self.errors.append(f"{name}: check raised {e!r}")
            if not ok:
                self.errors.append(f"{name}: wrong result")
        return OpResult(name, latency, ok)

    def _trace_counts(self, gid_build, gid_collect, df, result) -> None:
        tr, sc = self.tracer, self.sc
        b = tr.group_stats(sc, gid_build)
        c = tr.group_stats(sc, gid_collect)
        tr.count("registry.build_jobs", b["jobs"])
        for k in ("jobs", "stages", "tasks", "task_failures"):
            tr.count(f"exec.{k}", b[k] + c[k])
        if df is not None and c["jobs"]:
            m = plan_metrics(df)
            tr.count("exec.shuffle_write_bytes", m["shuffle_write_bytes"])
            tr.count("exec.spill_bytes", m["spill_bytes"])
            tr.count("sources.scan_rows", m["scan_rows"])
            tr.count("sources.scan_bytes", m["scan_bytes"])
            tr.count("sources.partitions_read", m["partitions_read"])
            if isinstance(result, list):
                tr.count("rows_returned", len(result))
        persisted = len(sc._jsc.getPersistentRDDs())
        tr.counts["caching.persisted_after_op"] = max(
            tr.counts["caching.persisted_after_op"], persisted
        )


def _corrupted(result):
    """A deliberately wrong copy of a result (benchmark self-test)."""
    if isinstance(result, list):
        return result[:-1] if result else [("corrupted",)]
    if isinstance(result, int):
        return result + 1
    return "corrupted"


# ---------------------------------------------------------------------------
# Pass-based workloads
# ---------------------------------------------------------------------------


class PassWorkload:
    """A workload made of passes; each pass is a list of operations."""

    def prepare(self, spark) -> None:
        """Register inputs; runs before warm-up, outside any timing."""

    def run_pass(self, runner: Runner, pass_no: int) -> list[OpResult]:
        raise NotImplementedError

    #: input rows one pass consumes
    input_rows = 0


class TaxiPipeline(PassWorkload):
    """The reference HiveQL job: raw CSV -> 25 data-quality statements ->
    clean + partitioned write -> read back -> 14 analysis statements."""

    def __init__(self, work: str, seed: int, n_rows: int):
        self.csv_dir = os.path.join(work, "trips_raw")
        self.out = os.path.join(work, "trips_clean")
        self.truth = write_trips_csv(
            os.path.join(self.csv_dir, "trips.csv"), seed, n_rows
        )
        self.expect = taxi_expectations(self.truth)
        self.input_rows = n_rows
        self.write_stats = (0, 0)

    def run_pass(self, runner: Runner, pass_no: int) -> list[OpResult]:
        from nyc_taxi_dataset_analysis_apache_hive_spark import taxi_sql
        from nyc_taxi_dataset_analysis_apache_hive_spark.operators.etl import (
            clean_trips,
        )
        from nyc_taxi_dataset_analysis_apache_hive_spark.sources import (
            readers,
            writers,
        )

        spark = runner.spark
        ops: list[OpResult] = []
        exp = self.expect

        def sql_op(name: str) -> OpResult:
            return runner.op(
                f"{pass_no}.{name}", name,
                build=lambda: taxi_sql.run_taxi_sql(spark, name),
                build_span="sql.parse_analyze",
                check=lambda df, rows: exp[name](rows),
            )

        def read_raw():
            df = readers.read_trips_csv(spark, self.csv_dir)
            df.createOrReplaceTempView("trips")

        ops.append(runner.op(f"{pass_no}.read_raw", "read_raw", build=read_raw,
                             build_span="sources.read"))
        for name in taxi_sql.TAXI_SQL_RAW:
            ops.append(sql_op(name))

        def write(df):
            writers.write_clean_partitioned(df, self.out)
            return None

        def check_write(df, _):
            parts = sorted(
                os.path.relpath(p, self.out)
                for p in glob.glob(os.path.join(self.out, "yr=*", "mnth=*"))
            )
            self.write_stats = dir_bytes(self.out)
            return parts == ["yr=2017/mnth=11", "yr=2017/mnth=12"]

        ops.append(runner.op(
            f"{pass_no}.write_clean", "write_clean",
            build=lambda: clean_trips(spark.table("trips")),
            finish=write, exec_span="sources.write", check=check_write,
        ))

        def read_clean():
            readers.read_trips_parquet(spark, self.out).createOrReplaceTempView(
                "trips_clean"
            )

        ops.append(runner.op(f"{pass_no}.read_clean", "read_clean",
                             build=read_clean, build_span="sources.read"))
        for name in taxi_sql.TAXI_SQL_CLEAN:
            ops.append(sql_op(name))
        return ops


class RegistryMix(PassWorkload):
    """A closed loop over the ``registry/reference_ops.py`` entries in a
    seed-permuted order, each checked against its DuckDB oracle."""

    def __init__(self, work: str, seed: int, n_lineitem: int):
        self.tables = os.path.join(work, "tables")
        self.seed = seed
        self.entries = reference_entries()
        self.rows = write_tables(self.tables, seed, n_lineitem)
        self.input_rows = sum(self.rows.values())
        self.expected: dict[str, tuple] = {}

    def prepare(self, spark) -> None:
        from nyc_taxi_dataset_analysis_apache_hive_spark import registry

        self.expected = oracle_results(
            self.tables, list(self.rows),
            {e: registry.ORACLES[e] for e in self.entries},
        )

    def run_pass(self, runner: Runner, pass_no: int) -> list[OpResult]:
        from nyc_taxi_dataset_analysis_apache_hive_spark import registry

        order = list(self.entries)
        random.Random(self.seed * 1000 + pass_no).shuffle(order)
        ops = []
        for name in order:
            fn = registry.QUERIES[name]
            want = self.expected[name]
            ops.append(runner.op(
                f"{pass_no}.{name}", name,
                build=lambda fn=fn: fn(runner.spark, self.tables),
                check=lambda df, rows, want=want: same_rows(
                    canonical(df.columns, rows), want),
            ))
        return ops


def reference_entries() -> list[str]:
    """Names of the entries registered by ``registry/reference_ops.py``."""
    from nyc_taxi_dataset_analysis_apache_hive_spark import registry
    from nyc_taxi_dataset_analysis_apache_hive_spark.registry import reference_ops

    mine = {id(v) for v in vars(reference_ops).values()}
    return [n for n, f in registry.QUERIES.items() if id(f) in mine]


# ---------------------------------------------------------------------------
# Open-loop stream
# ---------------------------------------------------------------------------


def progress_end(p: dict) -> float:
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=timezone.utc).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1000.0


def _batch_files(checkpoint: str) -> dict[str, int]:
    """File name -> file-source log offset, from the source's metadata log."""
    out: dict[str, int] = {}
    for f in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(f).startswith("."):
            continue
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = rec["batchId"]
    return out


#: three standard errors of an lg_k=12 HLL sketch (1.04 / sqrt(2**12))
HLL_BAND = 3 * 1.04 / 64


class StreamIngest:
    """The generator drops seeded ``events`` files every ``interval_s``; three
    queries consume them as they land: watermarked tumbling counts, the
    watermarked event-id dedup, and the HLL maintenance fold that commits
    sketch state on every trigger."""

    def __init__(self, work: str, seed: int, rows_per_file: int,
                 dup_per_file: int, interval_s: float):
        self.work = work
        self.files = EventFiles(seed, rows_per_file, dup_per_file)
        self.interval = interval_s
        self.input_rows = 0
        self.input_bytes = 0

    def prepare(self, spark) -> None:
        """Inputs are written while the stream runs."""

    def _run(self, runner: Runner, tag: str, n_files: int, interval: float,
             timed: bool) -> dict:
        from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import events as ev
        from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import maintenance

        spark, tr = runner.spark, runner.tracer
        base = os.path.join(self.work, f"stream_{tag}")
        drop, staging = os.path.join(base, "drop"), os.path.join(base, "staging")
        state = os.path.join(base, "hll_state")
        os.makedirs(drop)
        os.makedirs(staging)
        offset = 0 if timed else 10_000
        drops: dict[str, tuple[float, float, int]] = {}

        def drop_file(i: int, due: float) -> None:
            fname = f"events-{i:05d}-due{int(due * 1000)}.parquet"
            tmp = os.path.join(staging, fname)
            rows = self.files.write(offset + i, tmp)
            os.rename(tmp, os.path.join(drop, fname))
            drops[fname] = (due, time.time(), rows)

        # the file source takes its schema from the first file
        drop_file(0, time.time())
        with tr.span("registry.build", f"{tag}.build"):
            with tr.span("sources.read", f"{tag}.build"):
                events = ev.read_events_stream(spark, drop, max_files_per_trigger=1000)
            counts = ev.tumbling_counts_stream(events)
            unique = ev.dedup_events_stream(events)
        if tr.enabled:
            with tr.span("sql.parse_analyze", f"{tag}.build"):
                for df in (counts, unique):
                    df._jdf.queryExecution().analyzed()
            # the HLL fold commits its state with a parquet write per trigger
            fold = maintenance.fold_batch_into_hll

            def traced_fold(df, bid, *a, **kw):
                with tr.span("sources.write", f"hll.{bid}"):
                    return fold(df, bid, *a, **kw)

            maintenance.fold_batch_into_hll = traced_fold
        q_counts = (
            counts.writeStream.format("memory").queryName(f"pb_counts_{tag}")
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(base, "cp_counts"))
            .start()
        )
        q_dedup = (
            unique.writeStream.format("memory").queryName(f"pb_dedup_{tag}")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(base, "cp_dedup"))
            .start()
        )
        q_hll = maintenance.hll_maintenance_stream(
            events, state, os.path.join(base, "cp_hll")
        ).start()
        queries = {"counts": q_counts, "dedup": q_dedup, "hll": q_hll}

        t0 = time.time() + interval
        for i in range(1, n_files):
            due = t0 + (i - 1) * interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            drop_file(i, due)
        for q in queries.values():
            q.processAllAvailable()
        progress = {k: [json.loads(p.json) for p in q.recentProgress]
                    for k, q in queries.items()}
        run_ids = {k: str(q.runId) for k, q in queries.items()}
        for q in queries.values():
            q.stop()
        if tr.enabled:
            maintenance.fold_batch_into_hll = fold
        return {
            "base": base, "drop": drop, "state": state, "drops": drops,
            "progress": progress, "run_ids": run_ids,
            "table": f"pb_counts_{tag}", "dedup_table": f"pb_dedup_{tag}",
        }

    def warm_up(self, runner: Runner) -> None:
        self._run(runner, "warm", 4, 0.5, timed=False)

    def measure(self, runner: Runner, seconds: float) -> dict:
        # the schema file, then one file at 0, 1, 2, ... intervals into the
        # measured ``seconds``
        n_files = max(3, int(seconds / self.interval) + 2)
        r = self._run(runner, "timed", n_files, self.interval, timed=True)
        self.input_rows = sum(rows for _, _, rows in r["drops"].values())
        self.input_bytes = dir_bytes(r["drop"])[1]
        return r

    def check(self, runner: Runner, r: dict) -> list[tuple[str, bool]]:
        """Stream results against their batch analogs over the same files."""
        from pyspark.sql import functions as F

        from nyc_taxi_dataset_analysis_apache_hive_spark.operators import sketches
        from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import events as ev
        from nyc_taxi_dataset_analysis_apache_hive_spark.streaming import maintenance

        spark = runner.spark
        raw = spark.read.parquet(r["drop"])
        out = []
        got = spark.table(r["table"]).select(
            "window_start", "event_type", "n_events",
            F.round("sum_value", 2).alias("sum_value"),
        )
        want = ev.tumbling_counts_batch(raw)
        g, w = got.collect(), want.collect()
        if runner.corrupt == "stream_counts":
            g = _corrupted(g)
        out.append(("stream_counts",
                    same_rows(canonical(got.columns, g),
                              canonical(want.columns, w))))
        got = spark.table(r["dedup_table"])
        want = raw.dropDuplicates(["event_id"]).select(*got.columns)
        out.append(("stream_dedup", same_rows(
            canonical(got.columns, got.collect()),
            canonical(want.columns, want.collect()))))
        # the maintained rollup must count every row of its period exactly
        # and estimate the period's distinct users within the sketch's
        # error band: a union of HLL sketches estimates in-band, not
        # bit-identically to a one-pass sketch of the same rows
        state = maintenance.read_sketch_state(spark, r["state"])
        exact = {
            row["period"]: (row["n_rows"], row["n_users"])
            for row in raw.groupBy(F.date_trunc("day", "ts").alias("period"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.countDistinct("user_id").alias("n_users"))
            .collect()
        }
        ok = state is not None
        if ok:
            got = {row["period"]: (row["n_rows"], row["n_distinct_est"])
                   for row in sketches.distinct_by_period(state).collect()}
            ok = set(got) == set(exact) and all(
                got[p][0] == n and abs(got[p][1] - u) <= HLL_BAND * u
                for p, (n, u) in exact.items()
            )
        out.append(("stream_hll", ok))
        consumed = {}
        for q in r["progress"]:
            consumed[q] = _batch_files(os.path.join(r["base"], f"cp_{q}"))
        every = all(set(r["drops"]) <= set(c) for c in consumed.values())
        out.append(("stream_all_files_consumed", every))
        r["consumed"] = consumed
        return out

    def cleanup(self, r: dict) -> None:
        shutil.rmtree(r["base"], ignore_errors=True)
